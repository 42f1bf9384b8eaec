"""Streaming-family micro-bench (judge-r14 next-round #8).

The 17 registered streaming queries have never carried perf evidence: they
are micro-batch demos whose STATE BOUNDS (watermarks, within-watermark
dedup, salted-cell banding) are the scale claims, asserted in tests but
never measured. This probe times the two state-heavy representatives and
records their state-store sizes from the engine's own progress events:

* ``streaming_incremental_minhash_dedup`` — the salted-cell incremental
  MinHash path: 4 file micro-batches against an accumulating signature
  store (the production "new crawl vs 100 TB history" shape).
* the watermarked stream-stream join (purchases x prior views): state rows
  must stay bounded by the 30 min watermark + 10 min band, not grow with
  the stream.

Wall-clocks here are NOT headline-comparable (foreachBatch parquet stores,
checkpoint I/O, per-batch planning dominate at fixture scale); the numbers
exist so the streaming family has measured evidence at all. Run on demand:

    python tools/stream_bench.py [sf_dir]

Prints one JSON object; paste/commit into the round's OPTIMIZATION report.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql.streaming import StreamingQueryListener  # noqa: E402

from mapreduce_docker_spark.session import get_spark  # noqa: E402


class _ProgressTap(StreamingQueryListener):
    """Collects every micro-batch progress event per run (engine-pushed).

    Progress and termination events arrive asynchronously on the listener
    bus, in the order they were posted; a run's start event arrives before
    ``start()`` returns. So a timed run's events are selected by its
    ``runId``, and are complete once its termination event has arrived.
    """

    def __init__(self) -> None:
        self.started: list[tuple[str, str | None]] = []  # (runId, name)
        self.progress: dict[str, list[dict]] = {}
        self.terminated: set[str] = set()
        self._done = threading.Condition()

    def onQueryStarted(self, event) -> None:  # noqa: N802
        self.started.append((str(event.runId), event.name))

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = json.loads(event.progress.json)
        self.progress.setdefault(p["runId"], []).append(p)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        with self._done:
            self.terminated.add(str(event.runId))
            self._done.notify_all()

    def timed(self, run, name: str | None = None) -> tuple[float, list[dict]]:
        """(seconds, progress events) of ``run()``'s streaming runs, or of
        only those named ``name``; waits for each run's termination event."""
        mark = len(self.started)
        t0 = time.perf_counter()
        run()
        sec = round(time.perf_counter() - t0, 3)
        ids = [r for r, n in self.started[mark:] if name is None or n == name]
        with self._done:
            if not self._done.wait_for(lambda: self.terminated.issuperset(ids), 60):
                raise TimeoutError(f"no termination event for runs {ids}")
        return sec, [p for r in ids for p in self.progress.get(r, [])]


def _state_summary(progress: list[dict]) -> dict:
    """Per-batch state rows for every stateful operator seen."""
    out = []
    for p in progress:
        for op in p.get("stateOperators") or []:
            out.append(
                {
                    "batch": p.get("batchId"),
                    "op": op.get("operatorName"),
                    "rows_total": op.get("numRowsTotal"),
                    "rows_updated": op.get("numRowsUpdated"),
                    "rows_removed": op.get("numRowsRemoved"),
                }
            )
    return {
        "per_batch": out,
        "max_state_rows": max((o["rows_total"] or 0) for o in out) if out else 0,
        "n_batches": len({p.get("batchId") for p in progress}),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="stream_bench")
    from mapreduce_docker_spark.streaming.stream_demo import (
        run_incremental_minhash_dedup,
        run_stream_stream_join,
        run_streaming_wordcount,
    )

    out: dict = {"sf_dir": sf_dir}
    try:
        tap = _ProgressTap()
        spark.streams.addListener(tap)

        # warm-up: JVM + codegen on the smallest sibling would not exercise
        # the same staged chunk files; instead run each query once untimed
        run_streaming_wordcount(spark, sf_dir, query_name="sb_wc_warm")
        sec, progress = tap.timed(
            lambda: run_streaming_wordcount(spark, sf_dir, query_name="sb_wc"), "sb_wc"
        )
        out["streaming_wordcount_sec"] = sec
        out["streaming_wordcount_state"] = _state_summary(progress)

        run_stream_stream_join(spark, sf_dir, query_name="sb_ssj_warm")
        sec, progress = tap.timed(
            lambda: run_stream_stream_join(spark, sf_dir, query_name="sb_ssj"), "sb_ssj"
        )
        out["stream_stream_join_sec"] = sec
        out["stream_stream_join_state"] = _state_summary(progress)

        # its foreachBatch stream is unnamed: take every run it starts
        sec, progress = tap.timed(
            lambda: run_incremental_minhash_dedup(spark, sf_dir)
        )
        out["incremental_minhash_sec"] = sec
        # foreachBatch drives batch jobs, so state lives in the signature
        # store files, not the state store; record the batch count instead
        out["incremental_minhash_progress_batches"] = _state_summary(progress)[
            "n_batches"
        ]
        print(json.dumps(out, indent=1))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
