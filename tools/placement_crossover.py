"""Where does a segment search stop paying for a Spark job? The job path
against the driver path of ``SegmentSearcher.search`` on a driver-held
query frame — the receipt behind ``storage/search.py``'s
``DRIVER_PLACEMENT_MAX_WORK``.

For each store size (Σrows in flat segments of ``SEG_ROWS`` rows, 128-d)
and each query count |Q|, a pandas (qid, emb) frame of |Q| queries is
searched at k=10 with the placement pinned both ways: the driver path
runs the search kernel in-process; the job path makes a DataFrame of the
frame and runs one ``mapInPandas`` job, as a micro-batch above the bound
does. Each path is warmed once (both index caches fill), then timed as
the median of ``REPEATS`` searches; both return the same rows, which is
checked. The work of a cell is |Q|·Σrows·d.

Usage: python tools/placement_crossover.py [OUT] [--queries N ...] [--rows N ...]
(default grid |Q| 50 250 1000 4000 x Σrows 500 2000 8000 32000;
``local[nproc]``; one BLAS thread per process, as perfbench runs). Prints
one line per cell and a last ``bound:`` line — the largest grid work at
which the driver path is no slower than the job path, at that work and
at every smaller one — and writes the same lines to OUT when given
(``PLACEMENT_CROSSOVER.txt``).
"""

from __future__ import annotations

import os

# one BLAS thread per process before numpy loads (perfbench/run.py does
# the same): Spark runs one Python worker per core
for _var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ[_var] = "1"

import argparse  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import time  # noqa: E402

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DIM, K, SEG_ROWS, REPEATS = 128, 10, 500, 5


def _timed(fn) -> tuple[float, pd.DataFrame]:
    out = fn()  # warm-up: index caches fill on the driver and executors
    ms = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        out = fn()
        ms.append((time.perf_counter() - t0) * 1e3)
    return float(np.median(ms)), out


def crossover_bound(cells: list[tuple[int, float, float]]) -> int:
    """The largest work of a (work, driver_ms, job_ms) cell such that the
    driver is no slower at every cell of that work or less; 0 if none."""
    lost = min((w for w, d, j in cells if d > j), default=None)
    return max((w for w, _, _ in cells if lost is None or w < lost), default=0)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("out", nargs="?")
    ap.add_argument("--queries", type=int, nargs="+", default=[50, 250, 1000, 4000])
    ap.add_argument("--rows", type=int, nargs="+", default=[500, 2000, 8000, 32000])
    a = ap.parse_args()

    from pyspark.sql import functions as F

    from vstream_spark.config import VectorIndexConf
    from vstream_spark.session import get_spark
    from vstream_spark.storage import search
    from vstream_spark.storage.search import SegmentSearcher
    from vstream_spark.storage.segments import SegmentStore

    cpus = os.cpu_count()
    spark = get_spark(
        "placement-crossover", master=f"local[{cpus}]",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    work_dir = tempfile.mkdtemp(prefix="placement-crossover-")
    conf = VectorIndexConf(dim=DIM, termination_lower_bound=1.0)
    rng = np.random.RandomState(0)
    lines = [
        f"# SegmentSearcher.search, driver vs job placement: {DIM}-d, k={K}, "
        f"flat segments of {SEG_ROWS} rows, median of {REPEATS} after one "
        f"warm-up, local[{cpus}], one BLAS thread per process",
        f"{'queries':>7} {'rows':>6} {'work':>12} {'driver_ms':>10} {'job_ms':>8}",
    ]
    print("\n".join(lines), flush=True)
    cells = []
    try:
        store = SegmentStore(spark, os.path.join(work_dir, "store"), dim=DIM)
        held = 0
        for rows in sorted(a.rows):
            while held < rows:
                n = min(SEG_ROWS, rows - held)
                store.append_segment(
                    spark.range(held, held + n).select(
                        F.col("id"),
                        F.array(
                            *[F.randn(seed=held * DIM + j).cast("float") for j in range(DIM)]
                        ).alias("emb"),
                        F.col("id").alias("event_time"),
                        F.lit(10**12).alias("ttl"),
                        F.lit("I").alias("op"),
                    )
                )
                held += n
            for nq in sorted(a.queries):
                queries = pd.DataFrame({
                    "qid": np.arange(nq, dtype=np.int64),
                    "emb": list(rng.normal(size=(nq, DIM)).astype(np.float32)),
                })
                timed = {}
                for placement, bound in (("driver", float("inf")), ("job", -1)):
                    search.DRIVER_PLACEMENT_MAX_WORK = bound
                    searcher = SegmentSearcher(store, conf)
                    timed[placement] = _timed(lambda: searcher.search(queries, k=K))
                    assert searcher.last_placement == placement
                pd.testing.assert_frame_equal(timed["driver"][1], timed["job"][1])
                work = nq * rows * DIM
                cells.append((work, timed["driver"][0], timed["job"][0]))
                line = (
                    f"{nq:>7} {rows:>6} {work:>12} {timed['driver'][0]:>10.1f} "
                    f"{timed['job'][0]:>8.1f}"
                )
                lines.append(line)
                print(line, flush=True)
    finally:
        spark.stop()
        shutil.rmtree(work_dir, ignore_errors=True)
    lines.append(f"bound: {crossover_bound(cells)}")
    print(lines[-1])
    if a.out:
        with open(a.out, "w") as f:
            f.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
