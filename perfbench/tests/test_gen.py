import io

import numpy as np
import pyarrow.parquet as pq

import gen


def _csv(df):
    buf = io.StringIO()
    df.to_csv(buf, index=False, na_rep="", date_format="%Y-%m-%d %H:%M:%S")
    return buf.getvalue()


def test_trips_same_seed_same_rows():
    a, ta = gen.trips(7, 5_000)
    b, tb = gen.trips(7, 5_000)
    assert _csv(a) == _csv(b)
    assert ta == tb


def test_trips_other_seed_other_rows():
    a, _ = gen.trips(7, 5_000)
    b, _ = gen.trips(8, 5_000)
    assert _csv(a) != _csv(b)


def test_trips_shape_and_truth():
    df, truth = gen.trips(3, 20_000)
    assert list(df.columns) == gen.TRIP_COLUMNS
    assert truth.rows == len(df) == 20_000
    share = df["tpep_pickup_datetime"].isna().mean()
    assert 0.01 < share < 0.03
    assert truth.null_pickups == df["tpep_pickup_datetime"].isna().sum()
    for col, counts in (("PULocationID", truth.pickup_counts), ("DOLocationID", truth.dropoff_counts)):
        assert df[col].between(1, gen.N_ZONES).all()
        assert sum(counts.values()) == len(df)
        # skewed: the busiest zone carries far more than a uniform share
        assert max(counts.values()) > 10 * len(df) / gen.N_ZONES


def test_merge_truth_adds_up():
    _, a = gen.trips(1, 1_000)
    _, b = gen.trips(2, 2_000)
    m = gen.merge_truth([a, b])
    assert m.rows == 3_000
    assert sum(m.pickup_counts.values()) == 3_000
    assert m.null_pickups == a.null_pickups + b.null_pickups


def test_csv_marks_null_as_empty(tmp_path):
    df, truth = gen.trips(5, 2_000)
    path = tmp_path / "t.csv"
    gen.write_trip_csv(df, str(path))
    lines = path.read_text().splitlines()
    assert lines[0].split(",") == gen.TRIP_COLUMNS
    assert sum(1 for ln in lines[1:] if ln.split(",")[1] == "") == truth.null_pickups


def test_corpus_deterministic(tmp_path):
    a = gen.corpus_tables(11)
    b = gen.corpus_tables(11)
    c = gen.corpus_tables(12)
    assert a.keys() == b.keys()
    for name in a:
        assert a[name].equals(b[name]), name
    assert not a["lineitem"].equals(c["lineitem"])
    rows = gen.write_corpus(11, str(tmp_path))
    assert rows["lineitem"] == gen.CORPUS_ROWS["lineitem"]
    emb = pq.read_table(tmp_path / "embeddings.parquet")
    vecs = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False))
    assert vecs.shape == (500, gen.EMBED_DIM)
    assert np.allclose(np.linalg.norm(vecs, axis=1), 1.0, atol=1e-5)
