"""The seed alone decides the generated inputs."""

import gen


def _bytes(tmp_path, name, table):
    path = tmp_path / name
    gen.write(table, str(path))
    return path.read_bytes()


def test_events_same_seed_same_bytes_other_seed_differs(tmp_path):
    def make(seed):
        table, _ = gen.events(seed, 5_000, 300, 0.02, 0.05, 86_400, 60)
        return table

    a = _bytes(tmp_path, "a.parquet", make(7))
    b = _bytes(tmp_path, "b.parquet", make(7))
    c = _bytes(tmp_path, "c.parquet", make(8))
    assert a == b
    assert a != c


def test_documents_and_stream_feed_are_seeded(tmp_path):
    d1, _ = gen.documents(3, 200, 0.2)
    d2, _ = gen.documents(3, 200, 0.2)
    d3, _ = gen.documents(4, 200, 0.2)
    assert _bytes(tmp_path, "d1", d1) == _bytes(tmp_path, "d2", d2)
    assert _bytes(tmp_path, "d1", d1) != _bytes(tmp_path, "d3", d3)
    f1 = gen.stream_files(5, 200, 0.5, 4, 100, 0.05, 60, 600)
    f2 = gen.stream_files(5, 200, 0.5, 4, 100, 0.05, 60, 600)
    f3 = gen.stream_files(6, 200, 0.5, 4, 100, 0.05, 60, 600)
    assert all(a.equals(b) for a, b in zip(f1, f2))
    assert not all(a.equals(b) for a, b in zip(f1, f3))


def test_realised_properties_match_the_request():
    _, props = gen.events(1, 200_000, 10_000, 0.02, 0.05, 30 * 86_400, 60)
    assert abs(props["hot_key_share"] - 0.02) < 0.002
    assert 0.0 < props["out_of_order_share"] <= 0.05


def test_stream_disorder_stays_inside_each_file():
    files = gen.stream_files(2, 200, 0.5, 6, 100, 0.2, 60, 600)
    prev_max = None
    for f in files:
        ts = f.column("ts").cast("int64").to_numpy()
        if prev_max is not None:
            assert ts.min() >= prev_max
        prev_max = ts.max()
