"""The scaling leg: the same spatial job (tiling + spatial join + kNN
over a materialized synthetic images/AOI corpus) at a given number of
cores, printing one JSON line with its throughput.  Run the two core
counts as interleaved legs of ``tools/interleave.py``:

    python tools/interleave.py . . --cores 8,32 --rounds 3 -- python3 tools/scaling_bench.py {cores}

scaling efficiency = the report's ``throughput_rows_per_sec`` ratio / 4
(its ``median_efficiency``; gate: >= 0.8).

Shuffle partitions scale with cores; the input is identical (seeded,
materialized once); warm-up passes run before the timed repetitions
and the median of ``SCALE_REPS`` is reported.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ukis_pysat_spark import datagen
from ukis_pysat_spark.operators import knn, spatial_join, tiling
from ukis_pysat_spark.session import get_spark

N_IMAGES = int(os.environ.get("SCALE_N_IMAGES", "160000"))
N_AOIS = int(os.environ.get("SCALE_N_AOIS", "1000"))
REPS = int(os.environ.get("SCALE_REPS", "3"))
WARMUPS = int(os.environ.get("SCALE_WARMUPS", "2"))
BASE = f"/tmp/upss_scale_{N_IMAGES}_{N_AOIS}"


def warm_cache() -> None:
    """Pull the corpus into the OS page cache before timing.  Cold
    virtio reads run at ~100-300 MB/s on this sandbox and would be
    attributed to whichever leg runs first."""
    for sub in ("images", "aois"):
        d = f"{BASE}/{sub}"
        if os.path.isdir(d):
            for fn in os.listdir(d):
                with open(os.path.join(d, fn), "rb") as f:
                    while f.read(1 << 24):
                        pass


def cpu_scale_check(pairs=((1, 1), (4, 4), (8, 8), (16, 16), (32, 32))) -> dict:
    """Hardware ceiling measurement: embarrassingly-parallel pure-CPU
    work (no Spark, no I/O) at several process counts.  On this sandbox
    32 vCPUs deliver only ~24 cores of throughput under full load, so
    the engine's N->4N efficiency must be read against this ceiling
    (reported alongside the Spark numbers in BENCH/BASELINE.md)."""
    import multiprocessing as mp

    def burn(_):
        x = 0
        for i in range(20_000_000):
            x += i * i
        return x

    out = {}
    for n, _ in pairs:
        t0 = time.perf_counter()
        with mp.Pool(n) as p:
            p.map(burn, range(n))
        out[str(n)] = round(time.perf_counter() - t0, 3)
    return out


def materialize(spark):
    if not os.path.exists(f"{BASE}/images/_SUCCESS"):
        datagen.gen_images(spark, N_IMAGES, profile="bench", skew_frac=0.2).write.mode(
            "overwrite"
        ).parquet(f"{BASE}/images")
        datagen.gen_aois(spark, N_AOIS, skew_frac=0.2).write.mode("overwrite").parquet(
            f"{BASE}/aois"
        )


def job(images, aois) -> int:
    """The measured workload: tile pixels + spatial join + kNN rows."""
    n_tiles = tiling.tile_pixels(images, 32, 32, 4).count()
    n_join = spatial_join.spatial_join(images, aois, res=12).count()
    n_knn = knn.knn_broadcast(images, aois, k=5).count()
    return n_tiles + n_join + n_knn


def main(cores: int) -> None:
    spark = get_spark(
        f"scaling-bench-{cores}", master=f"local[{cores}]", shuffle_partitions=max(2 * cores, 8)
    )
    materialize(spark)
    warm_cache()
    images = spark.read.parquet(f"{BASE}/images")
    aois = spark.read.parquet(f"{BASE}/aois")

    for _ in range(WARMUPS):  # JIT/codegen/Python-worker warm-up
        job(images, aois)
    times, rows = [], 0
    for _ in range(REPS):
        t0 = time.perf_counter()
        rows = job(images, aois)
        times.append(time.perf_counter() - t0)
    med = statistics.median(times)
    print(
        json.dumps(
            {
                "cores": cores,
                "n_images": N_IMAGES,
                "n_aois": N_AOIS,
                "rows_per_run": rows,
                "times_sec": [round(t, 3) for t in times],
                "median_sec": round(med, 3),
                "throughput_rows_per_sec": round(rows / med, 1),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 8)
