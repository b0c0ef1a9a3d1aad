"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE), os.path.join(os.path.dirname(HERE), "scripts")]

import check_oracles  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


def test_series_generator_is_deterministic_per_seed():
    spec = gen.SeriesSpec(n_series=5, length=64)
    a, b = gen.series_table(3, spec), gen.series_table(3, spec)
    assert a.equals(b)
    assert not a.equals(gen.series_table(4, spec))
    assert a.schema == gen.EVENTS_SCHEMA
    assert a.num_rows == 5 * 64
    df = a.to_pandas()
    assert df["event_type"].nunique() == 5
    assert not df.duplicated(["event_type", "ts"]).any()


def test_corpus_generator_is_deterministic_and_sets_the_duplicate_share():
    spec = gen.CorpusSpec(n_docs=300, dup_share=0.3)
    a = gen.corpus_table(5, spec)
    assert a.equals(gen.corpus_table(5, spec))
    assert not a.equals(gen.corpus_table(6, spec))
    assert a.schema == gen.DOCUMENTS_SCHEMA

    def near_copies(table) -> int:
        seen, n = [], 0
        for text in table.column("text").to_pylist():
            words = set(text.split())
            if any(len(words & s) / len(words | s) > 0.8 for s in seen):
                n += 1
            seen.append(words)
        return n

    dups = near_copies(a)
    assert 0.2 * 300 < dups < 0.4 * 300
    assert near_copies(gen.corpus_table(5, gen.CorpusSpec(n_docs=300, dup_share=0.0))) == 0


def test_stream_files_continue_every_series_in_time():
    w = workloads.WORKLOADS["stream_detect"]
    tables = workloads.stream_tables(1, w, 3)
    assert [t.num_rows for t in tables] == [w.rows_per_file] * 3
    last = tables[0].to_pandas().groupby("event_type")["ts"].max()
    first = tables[1].to_pandas().groupby("event_type")["ts"].min()
    assert (first > last).all()
    again = workloads.stream_tables(1, w, 3)
    assert all(x.equals(y) for x, y in zip(tables, again))


def test_file_dropper_backlog_reads_race_free(tmp_path):
    """The generator thread publishes files while the measuring thread
    counts them; every file must be counted once and no read may fail."""
    import pyarrow as pa

    table = pa.table({"x": [1]})
    dropper = workloads.FileDropper(str(tmp_path))
    names = [f"f{i:04d}.parquet" for i in range(300)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        dropper.start([(n, table) for n in names], time.time(), 0.0)
        seen = 0
        while dropper._thread.is_alive():
            seen = max(seen, len(dropper.published()))
        dropper.join(timeout=30)
    finally:
        sys.setswitchinterval(old)
    assert not dropper._thread.is_alive()
    assert sorted(dropper.published()) == names
    assert sorted(os.listdir(tmp_path)) == names
    assert seen <= len(names)


def test_metric_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} == run.METRICS_END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == run.METRICS_PER_LAYER


def _frame():
    return pd.DataFrame(
        {"series_id": ["a", "a", "b"], "rn": [1, 2, 1], "score": [0.5, 1.25, -2.0]}
    )


def test_oracle_compare_accepts_reordered_equal_rows():
    got = _frame().iloc[::-1].reset_index(drop=True)
    assert check_oracles.compare("q", got, _frame()) == "OK"


@pytest.mark.parametrize(
    "perturb",
    [
        lambda df: df.assign(score=df["score"] + np.array([0.0, 1e-3, 0.0])),
        lambda df: df.iloc[:2],
        lambda df: df.assign(rn=[1, 3, 1]),
        lambda df: df.drop(columns="score"),
    ],
)
def test_oracle_compare_flags_a_perturbed_output(perturb):
    assert check_oracles.compare("q", perturb(_frame()), _frame()) != "OK"


def _events(n_series=2, length=80):
    return gen.series_table(9, gen.SeriesSpec(n_series=n_series, length=length)).to_pandas()


def _bocpd_rows(events):
    from time_series_data_anomaly_detection_spark.functions.bocpd import bocpd_series

    out = []
    for sid, ev in events.groupby("event_type"):
        ev = ev.sort_values(["ts", "event_id"])
        y = ev["value"].to_numpy(float)
        cp, short = bocpd_series((y - y.mean()) / y.std())
        out.append(
            pd.DataFrame(
                {
                    "series_id": sid,
                    "rn": np.arange(1, len(y) + 1),
                    "cp_prob": np.round(cp, 6),
                    "cp_score": np.round(short, 6),
                }
            )
        )
    return pd.concat(out, ignore_index=True)


def test_bocpd_check_flags_a_perturbed_output():
    events = _events()
    rows = _bocpd_rows(events)
    sample = sorted(events["event_type"].unique())
    assert checks.check_bocpd_rows(rows, events, sample) == []
    bad = rows.copy()
    bad.loc[10, "cp_score"] += 1e-4
    assert checks.check_bocpd_rows(bad, events, sample)
    assert checks.check_bocpd_rows(rows.iloc[1:], events, sample)


def test_stream_state_check_flags_a_perturbed_state():
    events = _events()
    mu, sd = 100.0, 20.0
    b_rows, c_rows = [], []
    for sid, ev in events.groupby("event_type"):
        y = ev.sort_values("ts")["value"].to_numpy(float)
        st = checks.bocpd_final_state((y - mu) / sd)
        b_rows.append({"series_id": sid, **{k: list(st[k]) for k in ("r", "mu", "beta", "run_len")}})
        z, w, sp, sn = checks.control_final_state(y, mu, sd)
        c_rows.append({"series_id": sid, "z": z, "w": w, "sp": sp, "sn": sn})
    b, c = pd.DataFrame(b_rows), pd.DataFrame(c_rows)
    sample = list(b["series_id"])
    assert checks.check_stream_state(b, c, events, mu, sd, sample) == []
    c_bad = c.copy()
    c_bad.loc[0, "sp"] += 1e-6
    assert checks.check_stream_state(b, c_bad, events, mu, sd, sample)
    b_bad = b.copy()
    b_bad.at[1, "r"] = list(np.asarray(b_bad.at[1, "r"]) * 1.01)
    assert checks.check_stream_state(b_bad, c, events, mu, sd, sample)


def test_parse_metric_reads_spark_formatted_values():
    total, med, mx = spans.parse_metric(
        "total (min, med, max (stageId: taskId))\n1.5 s (200 ms, 300 ms, 2.1 s (stage 4.0: task 13))"
    )
    assert (total, med, mx) == pytest.approx((1.5, 0.3, 2.1))
    assert spans.parse_metric("100,000") == (100000.0, None, None)
    assert spans.parse_metric(
        "total (min, med, max (stageId: taskId))\n1.5 MiB (1.0 KiB, 2.0 KiB, 3.0 KiB (stage 1.0: task 2))"
    )[0] == 1.5 * 2**20


def test_self_time_subtracts_children():
    tr = spans.Tracer(enabled=True)
    tr.trace_id = "p"
    with tr.span("pass", "bench"):
        with tr.span("build", "plans"):
            pass
        with tr.span("action", "functions"):
            pass
    st = tr.self_times({"p"})
    outer = tr.spans[0].end - tr.spans[0].start
    assert sum(st.values()) == pytest.approx(outer)
    assert set(st) == {"bench", "plans", "functions"}


def test_tail_has_ten_samples_beyond_it():
    xs = list(range(40))
    value, pct, n = run.tail(xs)
    assert sum(1 for x in xs if x > value) == 10
    assert (pct, n) == (75.0, 40)
    assert run.tail([3.0, 1.0, 2.0])[0] == 2.0
