"""The benchmark's workloads: what each one generates and runs.

Batch workloads run a fixed list of registry queries per pass, each
built by its ``plans.registry`` builder and executed into the noop sink.
The streaming workload runs the stateful detectors over files dropped
by an open-loop generator thread.

Each workload stresses a different layer of the engine (see README.md
in this directory for the layer table), so a change to one layer is
exercised by one workload and bypassed by another.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
from dataclasses import dataclass

import numpy as np

import gen


@dataclass(frozen=True)
class BatchWorkload:
    name: str
    # (registry query, layer of the operators it runs)
    queries: tuple[tuple[str, str], ...]
    series: gen.SeriesSpec
    # corpus for the traced run's datapipe probe, generated off the clock
    probe_corpus: gen.CorpusSpec | None = None
    # queries whose rows the in-process BOCPD kernel re-checks
    kernel_checked: tuple[str, ...] = ()

    def input_rows(self) -> int:
        return self.series.n_series * self.series.length

    def generate(self, seed: int, input_dir: str) -> None:
        gen.write_table(gen.series_table(seed, self.series), f"{input_dir}/events.parquet")


@dataclass(frozen=True)
class StreamWorkload:
    """Every dropped file holds the next point of each of ``n_series``
    series."""

    name: str
    n_series: int
    interval_s: float  # open-loop file period at the reference rate
    burst_files: int  # standing backlog dropped at once to measure drain
    norm_mu: float = 100.0
    norm_sd: float = 20.0

    @property
    def rows_per_file(self) -> int:
        return self.n_series

    @property
    def reference_rate(self) -> float:
        return self.rows_per_file / self.interval_s


WORKLOADS = {
    w.name: w
    for w in (
        # many short series: time sits in the per-series numpy kernels
        # behind applyInPandas (functions), Python workers and Arrow
        BatchWorkload(
            "wide_fit",
            (
                ("bocpd_changepoints", "functions"),
                ("kalman_forecast_fixed", "functions"),
                ("bsts_forecast_fixed", "functions"),
                ("holt_winters_fixed", "functions"),
                ("theta_forecast", "functions"),
            ),
            series=gen.SeriesSpec(n_series=32, length=512),
            kernel_checked=("bocpd_changepoints",),
        ),
        # few long series through the native detection chain: window,
        # sort and aggregate operators plus the eager jobs plans fire
        # while building; no Python workers, so a kernel change should
        # not move it.  Its traced run also probes datapipe's MinHash-LSH
        # on a corpus with a fixed near-duplicate share.
        BatchWorkload(
            "long_detect",
            (
                ("rolling_stats", "operators"),
                ("adaptive_flags", "operators"),
                ("mad_scores", "operators"),
                ("pointwise_metrics", "operators"),
            ),
            series=gen.SeriesSpec(n_series=4, length=6000),
            probe_corpus=gen.CorpusSpec(n_docs=400, dup_share=0.2),
        ),
        # open loop into the stateful detectors: the same BOCPD kernel
        # as wide_fit, run incrementally with state read and written on
        # every micro-batch
        StreamWorkload(
            "stream_detect",
            n_series=160,
            interval_s=0.2,
            burst_files=16,
        ),
    )
}


# ---------------------------------------------------------------------------
# Streaming input: an open-loop generator separate from the engine
# ---------------------------------------------------------------------------


def stream_tables(seed: int, w: StreamWorkload, n_files: int) -> list:
    """``n_files`` events tables that continue every series in time:
    file ``f`` holds point ``f`` of each series."""
    spec = gen.SeriesSpec(n_series=w.n_series, length=n_files, spike_rate=0.01)
    rng = np.random.default_rng([seed, w.n_series, n_files, 7])
    vals = gen.series_values(rng, spec)
    sid = np.arange(w.n_series)
    return [
        gen.events_from_arrays(
            sid,
            np.full(w.n_series, gen.T0_US + f * gen.STEP_US),
            vals[:, f],
            rng,
            first_event_id=f * w.n_series,
        )
        for f in range(n_files)
    ]


class FileDropper:
    """Writes prepared tables into the watched directory on a fixed
    schedule that does not slow down when the engine does.  Each file
    is written under a hidden name and renamed into place, so the file
    source never sees a partial file."""

    def __init__(self, directory: str):
        self.directory = directory
        self.due: dict[str, float] = {}
        self.dropped: dict[str, float] = {}
        # the generator thread adds files while the measuring thread
        # counts the backlog
        self._lock = threading.Lock()
        self._thread: threading.Thread | None = None
        self.error: BaseException | None = None

    def stage(self, name: str, table) -> None:
        """Write ``table`` under a hidden name the file source skips."""
        import pyarrow.parquet as pq

        pq.write_table(table, os.path.join(self.directory, f".{name}"))

    def publish(self, names: list[str], due: float) -> None:
        """Rename staged files into place, due at ``due``."""
        for name in names:
            os.rename(os.path.join(self.directory, f".{name}"), os.path.join(self.directory, name))
            with self._lock:
                self.due[name] = due
                self.dropped[name] = time.time()

    def published(self) -> list[str]:
        """Names of the files in place so far."""
        with self._lock:
            return list(self.dropped)

    def drop(self, name: str, table, due: float) -> None:
        self.stage(name, table)
        self.publish([name], due)

    def start(self, items: list[tuple[str, object]], t0: float, interval: float) -> None:
        """Drop ``items`` at ``t0 + i * interval`` (wall clock) on a
        background thread."""

        def loop():
            try:
                for i, (name, table) in enumerate(items):
                    due = t0 + i * interval
                    delay = due - time.time()
                    if delay > 0:
                        time.sleep(delay)
                    self.drop(name, table, due)
            except BaseException as e:  # reported by join()
                self.error = e

        self._thread = threading.Thread(target=loop, name="file-dropper", daemon=True)
        self._thread.start()

    def join(self, timeout: float) -> None:
        if self._thread is not None:
            self._thread.join(timeout)
            if self._thread.is_alive():
                raise TimeoutError("file dropper did not finish")
        if self.error is not None:
            raise self.error


def committed_files(checkpoint: str) -> dict[str, float]:
    """File name -> commit time (wall clock) of the micro-batch that
    consumed it, read from the query's checkpoint: the file source log
    ``sources/0/<batch>`` names each batch's files and the commit log
    ``commits/<batch>`` is written when the batch commits."""
    import json

    out = {}
    src = os.path.join(checkpoint, "sources", "0")
    commits = os.path.join(checkpoint, "commits")
    if not os.path.isdir(src) or not os.path.isdir(commits):
        return out
    for b in os.listdir(commits):
        if not b.isdigit():
            continue
        log = os.path.join(src, b)
        if not os.path.exists(log):
            continue
        t = os.stat(os.path.join(commits, b)).st_mtime
        with open(log) as fh:
            for line in fh.read().splitlines()[1:]:
                path = json.loads(line)["path"]
                out[os.path.basename(path)] = t
    return out


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
