"""Checkpoint/resume + per-partition lineage & metrics.

The north rule requires every stage to write per-partition lineage +
row-count metrics and for runs to resume from the last committed
checkpoint.  With an Iceberg catalog this is snapshot commits + a
metrics table; no Iceberg runtime jar ships in this environment, so the
same semantics are built on Parquet:

- a stage writes each *batch* of work to
  ``{base}/{stage}/batch={batch_id}/`` with Spark's committer — the
  directory is committed iff its ``_SUCCESS`` marker exists, so a
  killed run leaves at most an uncommitted (ignored) directory;
- after the data commit, the batch's lineage rows (run_id, stage,
  batch, src_partition, row_count, min/max key) are written to
  ``{base}/_metrics/{stage}/batch={batch_id}`` as one Parquet file,
  renamed over its predecessor, so a REPLAYED batch replaces its own
  lineage rows and restarts can never double-count;
- resume = drop the input keys that lie in a committed batch's bucket,
  a column predicate on the key's hash built from the committed batch
  ids alone, so work is never repeated and retries are idempotent
  (keys are data-derived, never partition-index-derived).

Lineage comes from the Parquet footers, not from a re-read.  Iceberg
keeps per-file record counts and column lower/upper bounds in its
manifests, collected while the files are written; the Parquet writer
keeps the same numbers in each file's footer (row-group row counts and
exact min/max per column).  Each ``part-*`` file is written by one task,
so it holds one ``src_partition``; the commit reads the footers on the
driver and sums them per partition, and costs exactly one Spark job
(the data write).  Two checks keep it exact and fail closed:

- before writing, the key column must be a (binary-collated) string or
  an integral type, the types whose footer min/max and ``str()`` equal
  Spark's ``min``/``max`` + ``cast(string)``; anything else raises
  ``TypeError`` and nothing is written;
- a non-empty row group whose footer lacks ``src_partition`` or key
  bounds, or holds more than one ``src_partition``, raises with the
  file's name.  Lineage is never guessed.

A batch committed by a process that died before its lineage write gets
its lineage rebuilt from the same footers on the next
``run_stage_in_batches``.

``run_stage_in_batches`` buckets by ``pmod(xxhash64(key), n_batches)``
and runs each batch on ``ceil(P / n_batches)`` tasks, P being the
input's task count: a narrow ``coalesce`` before the transform, so a
batch task reads about as many input bytes as an input task.  Each
batch holds ~1/n_batches of the rows, but every task pays a fixed cost
whatever its rows: ~0.01 CPU-s per ``mapInArrow`` task, mostly the
JVM side of the Arrow boundary, and ~0.02 CPU-s more when the task
also writes Parquet, its own small ``part-*`` file (tile_pixels of one
500-image input on 4 to 32 tasks, 4 vCPUs).  With all P tasks per
batch, four tiling batches cost 2.9-3.3x one batch; on their share
they cost 1.7-1.9x (8,000 tiles, 4 vCPUs, three runs of medians of
7).  P is read from the input's physical plan, so reading it runs no
Spark job (executing a plan that holds an exchange would run its
stages).  Each batch still
scans the whole input and filters its bucket after the scan, ~0.2
CPU-s per batch more than a key-only scan.

A batch id names everything its bucket depends on:
``b{bucket:04d}n{n_batches:04d}k{md5(key_col)[:8]}``.  A key is
*covered* when some committed id (b, n) has ``pmod(xxhash64(key), n) ==
b``.  ``resume_filter`` keeps the uncovered input rows, and
``run_stage_in_batches`` skips the committed ids of its own batching
and cuts every pending bucket minus the keys covered by other
batchings' ids (a crash at 4 batches then a resume at 2 writes mod-2
bucket 1 less the committed mod-4 bucket 1), so the committed keys are
always exactly the union of the committed buckets.  The rule holds
under one precondition: the input's key set is the one the committed
batches were cut from, and a committed batch is removed only together
with every batch committed after it.  A stage holding an id the rule
cannot read (a bare ``b%04d``, streaming's ``s%08d``, an id of another
key column) fails closed: both raise ``ValueError`` naming it before
anything is written.

On a cluster with an Iceberg catalog, pass ``catalog=`` to switch the
SAME semantics onto snapshot commits: each batch lands as one
``writeTo(...).overwritePartitions()`` into a table partitioned by
``batch_id`` (a replayed batch replaces its own partition — one atomic
Iceberg snapshot), metrics ride a second table partitioned by
``(stage, batch_id)``, and the committed set is simply the table
contents (snapshot isolation: readers never see an in-flight batch).
The catalog path is unchanged by the footer lineage: it aggregates the
committed rows for its metrics.  It resumes by the same rule, on the
same ``ceil(P / n_batches)`` tasks; only the lineage repair is
Parquet-only.  No Iceberg runtime jar ships in this environment, so the
catalog path is exercised only where one is configured (the test skips
cleanly); the Parquet ``_SUCCESS`` protocol stays the default.
"""

from __future__ import annotations

import glob
import hashlib
import os
import re
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F
import pyspark.sql.types as T


def iceberg_catalog_available(spark: SparkSession, catalog: str) -> bool:
    """True iff `catalog` resolves (Iceberg runtime jar + catalog conf
    present) — callers/tests use this to pick the storage mode."""
    try:
        spark.sql(f"SHOW NAMESPACES IN {catalog}")
        return True
    except Exception:  # noqa: BLE001 — any resolution failure means "absent"
        return False

METRICS_SCHEMA = (
    "run_id string, stage string, batch_id string, src_partition int, "
    "row_count long, key_min string, key_max string, committed_at double"
)
METRICS_ARROW = pa.schema(
    [
        (name, {"string": pa.string(), "int": pa.int32(), "long": pa.int64(),
                "double": pa.float64()}[kind])
        for name, kind in (f.split() for f in METRICS_SCHEMA.split(", "))
    ]
)
# key types whose footer min/max, as str(), equal Spark's min/max cast to
# string: binary-collated strings (UTF-8 byte order == code-point order)
# and integers
FOOTER_KEY_TYPES = (T.StringType(), T.ByteType(), T.ShortType(), T.IntegerType(), T.LongType())
LINEAGE_FILE = "part-00000.parquet"


def _footer_lineage(path: str, key_col: str) -> dict[int, list]:
    """``{src_partition: [row_count, key_min, key_max]}`` summed over the
    row-group footers of the ``part-*`` files of one committed batch
    directory; raises rather than guess when a footer cannot say."""
    out: dict[int, list] = {}
    for f in sorted(glob.glob(os.path.join(path, "part-*.parquet"))):
        md = pq.read_metadata(f)
        cols = {md.schema.column(j).path: j for j in range(md.num_columns)}
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            if rg.num_rows == 0:
                continue
            bounds = []
            for c in ("src_partition", key_col):
                st = rg.column(cols[c]).statistics if c in cols else None
                if st is not None and st.has_min_max:
                    bounds.append((st.min, st.max))
                elif c == key_col and st is not None and st.null_count == rg.num_rows:
                    bounds.append((None, None))  # all-null keys: no bound, as min() gives
                else:
                    raise ValueError(f"{f}: row group {i} footer has no min/max for {c!r}")
            (part, part_hi), (lo, hi) = bounds
            if part != part_hi:
                raise ValueError(f"{f}: row group {i} spans src_partition {part}..{part_hi}")
            if lo is not None and not all(type(v) in (str, int) for v in (lo, hi)):
                raise TypeError(f"{f}: key {key_col!r} bounds are {type(lo).__name__}, not str or int")
            acc = out.setdefault(part, [0, None, None])
            acc[0] += rg.num_rows
            if lo is not None:
                acc[1] = lo if acc[1] is None else min(acc[1], lo)
                acc[2] = hi if acc[2] is None else max(acc[2], hi)
    return out


class CheckpointedRun:
    def __init__(
        self,
        spark: SparkSession,
        base: str,
        run_id: str | None = None,
        catalog: str | None = None,
    ):
        self.spark = spark
        self.base = base.rstrip("/")
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.catalog = catalog
        if catalog is not None:
            if not iceberg_catalog_available(spark, catalog):
                raise ValueError(
                    f"catalog {catalog!r} is not resolvable; omit catalog= "
                    "for the Parquet fallback"
                )
            # sanitized name + short hash of the RAW string: distinct
            # bases that sanitize identically (/data/run-1 vs
            # /data/run_1) must not share a namespace/table
            ns = re.sub(r"[^A-Za-z0-9_]+", "_", self.base).strip("_") or "ckpt"
            tag = hashlib.md5(self.base.encode()).hexdigest()[:8]
            self._ns = f"{catalog}.{ns}_{tag}"
            spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {self._ns}")

    def _tbl(self, stage: str) -> str:
        safe = re.sub(r"[^A-Za-z0-9_]+", "_", stage)
        return f"{self._ns}.{safe}_{hashlib.md5(stage.encode()).hexdigest()[:8]}"

    # -- commit side --------------------------------------------------------

    def commit_batch(
        self, df: DataFrame, stage: str, key_col: str, batch_id: str
    ) -> None:
        """Atomically commit one batch of a stage + its lineage metrics.

        The data write carries the executor partition id so lineage is
        per *physical* partition of the producing stage: under
        ``run_stage_in_batches`` that is the batch's coalesced task, one
        of ``ceil(P / n_batches)``.  In Parquet mode this is one Spark
        job: the lineage comes from the written footers.
        """
        out = df.withColumn("src_partition", F.spark_partition_id())
        if self.catalog is not None:
            self._commit_batch_iceberg(out, stage, key_col, batch_id)
            return
        key_type = out.schema[key_col].dataType
        if key_type not in FOOTER_KEY_TYPES:
            raise TypeError(
                f"checkpoint key {key_col!r} is {key_type.simpleString()}; footer "
                "lineage needs a string or integral key"
            )
        path = f"{self.base}/{stage}/batch={batch_id}"
        out.write.mode("overwrite").parquet(path)  # _SUCCESS marks the commit
        self._write_lineage(stage, key_col, batch_id)

    def _lineage_dir(self, stage: str, batch_id: str) -> str:
        return f"{self.base}/_metrics/{stage}/batch={batch_id}"

    def _write_lineage(self, stage: str, key_col: str, batch_id: str) -> None:
        """Lineage rows of a committed Parquet batch from its footers,
        written as one file renamed over the batch's previous lineage
        (per-batch replace, not append: a REPLAYED batch must not
        double-count row_count)."""
        parts = _footer_lineage(f"{self.base}/{stage}/batch={batch_id}", key_col)
        now = time.time()
        rows = [
            dict(run_id=self.run_id, stage=stage, batch_id=batch_id, src_partition=p,
                 row_count=n, key_min=None if lo is None else str(lo),
                 key_max=None if hi is None else str(hi), committed_at=now)
            for p, (n, lo, hi) in sorted(parts.items())
        ]
        table = pa.Table.from_pylist(rows, schema=METRICS_ARROW)
        d = self._lineage_dir(stage, batch_id)
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".{uuid.uuid4().hex}.tmp")  # hidden: readers skip it
        pq.write_table(table, tmp, store_schema=False)  # Spark reads the Parquet types
        os.replace(tmp, os.path.join(d, LINEAGE_FILE))
        for f in os.listdir(d):  # Spark-written lineage, stale temps
            if f != LINEAGE_FILE:
                os.remove(os.path.join(d, f))

    def _commit_batch_iceberg(
        self, out: DataFrame, stage: str, key_col: str, batch_id: str
    ) -> None:
        """One atomic snapshot per batch: overwritePartitions on the
        batch_id partition, so a replayed batch replaces itself."""
        tbl = self._tbl(stage)
        data = out.withColumn("batch_id", F.lit(batch_id))
        if self.spark.catalog.tableExists(tbl):
            data.writeTo(tbl).overwritePartitions()
        else:
            data.writeTo(tbl).using("iceberg").partitionedBy("batch_id").create()
        committed = self.spark.read.table(tbl).where(F.col("batch_id") == batch_id)
        metrics = (
            committed.groupBy("src_partition")
            .agg(
                F.count("*").alias("row_count"),
                F.min(key_col).cast("string").alias("key_min"),
                F.max(key_col).cast("string").alias("key_max"),
            )
            .select(
                F.lit(self.run_id).alias("run_id"),
                F.lit(stage).alias("stage"),
                F.lit(batch_id).alias("batch_id"),
                "src_partition",
                "row_count",
                "key_min",
                "key_max",
                F.lit(time.time()).alias("committed_at"),
            )
        )
        mtbl = f"{self._ns}.metrics"
        if self.spark.catalog.tableExists(mtbl):
            metrics.writeTo(mtbl).overwritePartitions()
        else:
            metrics.writeTo(mtbl).using("iceberg").partitionedBy(
                "stage", "batch_id"
            ).create()

    # -- resume side --------------------------------------------------------

    def _committed_batches(self, stage: str) -> list[str]:
        if self.catalog is not None:
            tbl = self._tbl(stage)
            if not self.spark.catalog.tableExists(tbl):
                return []
            return [
                f"batch={r.batch_id}"
                for r in self.spark.read.table(tbl)
                .select("batch_id").distinct().collect()
            ]
        root = f"{self.base}/{stage}"
        if not os.path.isdir(root):
            return []
        out = []
        for d in sorted(os.listdir(root)):
            full = os.path.join(root, d)
            if d.startswith("batch=") and os.path.exists(os.path.join(full, "_SUCCESS")):
                out.append(full)
        return out

    def _repair_lineage(self, stage: str, key_col: str, committed: set[str]) -> None:
        """Rebuild from the footers the lineage of committed Parquet
        batches whose process died between the data and lineage writes
        (only hidden temp files, or no directory, under ``_metrics``)."""
        for b in sorted(committed):
            d = self._lineage_dir(stage, b)
            if not (os.path.isdir(d) and any(not f.startswith(".") for f in os.listdir(d))):
                self._write_lineage(stage, key_col, b)

    def committed(self, stage: str) -> DataFrame | None:
        """All committed rows of a stage (uncommitted dirs ignored; in
        catalog mode snapshot isolation makes every table row
        committed by construction)."""
        if self.catalog is not None:
            tbl = self._tbl(stage)
            if not self.spark.catalog.tableExists(tbl):
                return None
            return self.spark.read.table(tbl).drop("batch_id")
        paths = self._committed_batches(stage)
        if not paths:
            return None
        return self.spark.read.parquet(*paths)

    def _committed_ids(self, stage: str) -> set[str]:
        return {p.rsplit("batch=", 1)[-1] for p in self._committed_batches(stage)}

    def resume_filter(self, inputs: DataFrame, stage: str, key_col: str) -> DataFrame:
        """Drop input rows whose key lies in a committed batch's bucket."""
        covered = _covered(self._committed_ids(stage), key_col)
        return inputs if covered is None else inputs.filter(~covered)

    def metrics(self, stage: str | None = None) -> DataFrame | None:
        cols = [f.split()[0] for f in METRICS_SCHEMA.split(", ")]
        if self.catalog is not None:
            mtbl = f"{self._ns}.metrics"
            if not self.spark.catalog.tableExists(mtbl):
                return None
            m = self.spark.read.table(mtbl)
            if stage:
                m = m.where(F.col("stage") == stage)
            return m.select(*cols)
        root = f"{self.base}/_metrics"
        paths = (
            [f"{root}/{stage}"]
            if stage
            else [os.path.join(root, d) for d in (os.listdir(root) if os.path.isdir(root) else [])]
        )
        paths = [p for p in paths if os.path.isdir(p)]
        if not paths:
            return None
        # drop the batch=... partition-discovery column; batch_id is a field
        return self.spark.read.parquet(*paths).select(*cols)


def _planned_tasks(plan) -> int:
    """Tasks the physical ``plan`` runs on, read without running a Spark
    job (executing a plan that holds an exchange runs its stages first):
    an exchange, a range or a coalesce states its count; a leaf scan
    builds its RDD, which runs no job; a union runs on the sum of its
    inputs' tasks, any other node on its widest input's (a broadcast
    join on its streamed side)."""
    name = plan.nodeName()
    if name == "AdaptiveSparkPlan":  # a leaf in the tree: read the plan it will run
        return _planned_tasks(plan.executedPlan())
    if name == "InMemoryTableScan":  # building an unfilled cache would run it
        return _planned_tasks(plan.relation().cachedPlan())
    n = plan.outputPartitioning().numPartitions()
    if n:
        return n
    kids = plan.children()
    if kids.isEmpty():
        return plan.execute().getNumPartitions()
    counts = [_planned_tasks(kids.apply(i)) for i in range(kids.size())]
    return sum(counts) if name == "Union" else max(counts)


def _batch_id(bucket: int, n_batches: int, key_col: str) -> str:
    return f"b{bucket:04d}n{n_batches:04d}k{hashlib.md5(key_col.encode()).hexdigest()[:8]}"


def _covered(ids: set[str], key_col: str, n_batches: int = 0):
    """Column predicate: the key lies in the bucket of one of the
    committed ``ids`` not cut by ``n_batches`` buckets (None when no
    such id).  Raises on an id that does not name a bucket of
    ``key_col``: its keys cannot be told without reading it."""
    buckets: dict[int, list[int]] = {}
    for i in sorted(ids):
        m = re.fullmatch(r"b(\d{4})n(\d{4})k\w{8}", i)
        if m is None or int(m[1]) >= int(m[2]) or i != _batch_id(int(m[1]), int(m[2]), key_col):
            raise ValueError(
                f"committed batch {i!r} does not name a bucket of key {key_col!r}; "
                "resume cannot tell which keys it holds"
            )
        if int(m[2]) != n_batches:
            buckets.setdefault(int(m[2]), []).append(int(m[1]))
    covered = None
    for n, bs in sorted(buckets.items()):
        term = F.pmod(F.xxhash64(key_col), F.lit(n)).isin(bs)
        covered = term if covered is None else covered | term
    return covered


def run_stage_in_batches(
    ckpt: CheckpointedRun,
    inputs: DataFrame,
    stage: str,
    key_col: str,
    transform,
    n_batches: int = 4,
    fail_after: int | None = None,
) -> None:
    """Drive a stage as N resumable batches (deterministic bucketing by
    key hash, never by partition index), each on ``ceil(P / n_batches)``
    of the input's P tasks. `fail_after` injects a crash after that many
    batch commits — used by the resume tests.  A resume skips the
    committed buckets of this batching and drops from the rest the keys
    that other batchings' committed buckets cover; in Parquet mode it
    first rebuilds any committed batch's missing lineage."""
    if not 1 <= n_batches <= 9999:
        raise ValueError(f"n_batches={n_batches} is outside 1..9999")
    committed = ckpt._committed_ids(stage)
    covered = _covered(committed, key_col, n_batches)
    if ckpt.catalog is None:
        ckpt._repair_lineage(stage, key_col, committed)
    tasks = -(-_planned_tasks(inputs._jdf.queryExecution().executedPlan()) // n_batches)
    todo = inputs if covered is None else inputs.filter(~covered)
    bucket = F.pmod(F.xxhash64(key_col), F.lit(n_batches)).cast("int")
    work = todo.withColumn("_bucket", bucket)
    done = 0
    for b in range(n_batches):
        # a committed id of this batching is final: its bucket's keys
        # are deterministic hashes, so it is never overwritten
        batch_id = _batch_id(b, n_batches, key_col)
        if batch_id in committed:
            continue
        batch = work.filter(F.col("_bucket") == b).drop("_bucket").coalesce(tasks)
        # write directly — no emptiness pre-count: the transform runs
        # ONCE per batch (an empty committed batch is harmless: it adds
        # no keys and no metrics groups)
        ckpt.commit_batch(transform(batch), stage, key_col, batch_id=batch_id)
        done += 1
        if fail_after is not None and done >= fail_after:
            raise RuntimeError(f"injected failure after {done} batches")
