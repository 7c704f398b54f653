import json
import os

import pandas as pd
import pytest

import check
import gen


def _write(path, records):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        for r in records:
            fh.write(json.dumps({k: v for k, v in r.items() if v is not None}) + "\n")


def _fake_sinks(out, df, n_batches=3):
    """What a correct consumer writes for ``df``: per-batch raw rows
    with repaired pickup times and tagged per-zone counts."""
    parts = [df.iloc[i::n_batches] for i in range(n_batches)]
    for b, part in enumerate(parts):
        raw = [
            {
                "batch_id": str(b),
                "tpep_pickup_datetime": "2024-01-01T00:00:00.000Z" if pd.isna(t) else t.isoformat(),
                "PULocationID": int(pu),
            }
            for t, pu in zip(part["tpep_pickup_datetime"], part["PULocationID"])
        ]
        _write(f"{out}/raw/part-{b:05d}.json", raw)
        for name, key, tag in (
            ("pickup_agg", "PULocationID", "pickup_location"),
            ("dropoff_agg", "DOLocationID", "dropoff_location"),
        ):
            counts = part[key].value_counts()
            rows = [
                {key: int(k), "batch_id": str(b), "trip_count": int(v), "aggregation_type": tag}
                for k, v in counts.items()
            ]
            _write(f"{out}/{name}/part-{b:05d}.json", rows)
            comb = [
                {"location_id": r[key], "batch_id": r["batch_id"], "trip_count": r["trip_count"], "aggregation_type": tag}
                for r in rows
            ]
            _write(f"{out}/combined_agg/part-{b:05d}-{tag}.json", comb)


@pytest.fixture()
def sinks(tmp_path):
    df, truth = gen.trips(21, 3_000)
    out = str(tmp_path / "out")
    _fake_sinks(out, df)
    return out, truth


def _edit(path, fn):
    lines = [json.loads(x) for x in open(path)]
    _write(path, fn(lines))


def test_correct_sinks_pass(sinks):
    out, truth = sinks
    assert check.check_sinks(check.read_sinks(out), truth) == []


def test_missing_raw_row_rejected(sinks):
    out, truth = sinks
    _edit(f"{out}/raw/part-00000.json", lambda rows: rows[1:])
    assert any("raw" in p for p in check.check_sinks(check.read_sinks(out), truth))


def test_null_pickup_rejected(sinks):
    out, truth = sinks
    _edit(
        f"{out}/raw/part-00001.json",
        lambda rows: [{k: v for k, v in rows[0].items() if k != "tpep_pickup_datetime"}] + rows[1:],
    )
    assert any("NULL" in p for p in check.check_sinks(check.read_sinks(out), truth))


def test_wrong_zone_count_rejected(sinks):
    out, truth = sinks

    def bump(rows):
        rows[0]["trip_count"] += 1
        return rows

    _edit(f"{out}/pickup_agg/part-00002.json", bump)
    problems = check.check_sinks(check.read_sinks(out), truth)
    assert any("pickup_agg" in p for p in problems)
    assert any("combined_agg" in p for p in problems)


def test_combined_missing_row_rejected(sinks):
    out, truth = sinks
    _edit(f"{out}/combined_agg/part-00000-dropoff_location.json", lambda rows: rows[:-1])
    problems = check.check_sinks(check.read_sinks(out), truth)
    assert problems and all("combined_agg" in p for p in problems)


def test_empty_sinks_rejected(tmp_path):
    _, truth = gen.trips(1, 100)
    assert check.check_sinks(check.read_sinks(str(tmp_path)), truth)


def test_digest_mismatch_rejected():
    assert check.check_digest("q", (10, 123), (10, 123)) == []
    assert check.check_digest("q", (10, 124), (10, 123))
    assert check.check_digest("q", (9, 123), (10, 123))


def test_compare_frames():
    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, None]})
    shuffled = a.iloc[[2, 0, 1]].reset_index(drop=True)
    assert check.compare_frames(a, shuffled) == []
    changed = a.copy()
    changed.loc[1, "v"] = 1.5000001
    assert check.compare_frames(a, changed)
    assert check.compare_frames(a, a.iloc[:2])
    assert check.compare_frames(a, a.rename(columns={"v": "w"}))
