"""Shared write-side helpers for multi-frame persisted artifacts.

``write_frames`` is the one device every multi-artifact persist site
(the ANN index's 4 frames, ll100's 6 state artifacts, ss21's per-batch
fold roots) funnels through: it overlaps the INDEPENDENT write actions
on driver threads (optimization guide §2.6 "overlap independent jobs")
so the wall cost of a persist is ~max(write_i) instead of Σ write_i.

Why this is safe and value-identical:
- every frame targets its own directory — no two jobs touch the same
  path, and each individual ``df.write`` call is byte-for-byte the one
  the sequential loop ran;
- Spark's scheduler is designed for concurrent actions from driver
  threads (FIFO lets the later jobs back-fill the earlier jobs' task
  tails — exactly the §2.6 pattern); py4j is thread-safe;
- shared upstream subtrees are either localCheckpointed by the callers
  (the documented multi-consumer boundaries) or recomputed exactly as
  the sequential loop would have recomputed them;
- failures propagate: every write runs to completion, then a single
  failure re-raises as itself and several as one ``ExceptionGroup``,
  so no sibling failure is swallowed.

At 100 TB the small frames (centroids, codebook, meta, fingerprints)
are metadata-sized while one frame (codes / the band index) dominates;
overlapping hides the small frames' fixed job+commit latency entirely
inside the big write. This changes WHEN jobs run, never what any job
computes — bench-legal scheduling, not caching.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame


def write_frames(
    frames: dict[str, DataFrame],
    root: str,
    mode: str = "overwrite",
    max_workers: int = 6,
) -> None:
    """Write every ``frames[name]`` to ``<root>/<name>.parquet``,
    overlapping the independent write actions on driver threads.

    A failed call has waited for every write and reports all of their
    failures, but it leaves a mix of committed and half-written
    directories under ``root``: such a root must be rewritten whole
    (``mode="overwrite"`` repairs every directory), never resumed or
    read."""
    items = list(frames.items())

    def _write(item: tuple[str, DataFrame]) -> None:
        name, df = item
        df.write.mode(mode).parquet(f"{root}/{name}.parquet")

    with ThreadPoolExecutor(
        max_workers=max(1, min(max_workers, len(items)))
    ) as pool:
        futures = [pool.submit(_write, item) for item in items]
    errors = [e for e in (f.exception() for f in futures) if e is not None]
    if len(errors) == 1:
        raise errors[0]
    if errors:
        raise ExceptionGroup(
            f"{len(errors)} frame writes under {root} failed", errors
        )
