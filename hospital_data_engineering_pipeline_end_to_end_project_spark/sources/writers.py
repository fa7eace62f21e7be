"""Sinks.

The reference's sinks are Delta ``saveAsTable`` overwrites and
``partitionBy("year","month")`` fact writes (`Gold Layer.py:153-156`).
This engine defaults to Parquet paths/tables with the same layout
decisions; passing ``fmt="delta"`` routes through ``delta_io`` (atomic
log commit + ``overwriteSchema``) and fails fast with an actionable
ImportError when delta-spark isn't installed (it is not baked into
this container).

Layout notes for 100 TB: partition columns must stay low-cardinality
(year/month ~ 12/yr is fine); within partitions rely on parquet row
-group statistics + AQE-coalesced file sizes rather than tiny-file
explosions.  ``repartition(*partition_cols)`` before a partitioned
write gives one (or a few) files per partition instead of
``num_tasks x num_partitions`` fragments.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from hospital_data_engineering_pipeline_end_to_end_project_spark.sources import delta_io


def write_observed(
    df: DataFrame, write: Callable[[DataFrame], None], **metrics: Column
) -> dict:
    """Run ``write`` on ``df`` and return ``metrics`` (aggregate
    Columns, ``rows`` = row count by default) over the rows it wrote.

    The aggregates ride the write job itself (``DataFrame.observe``),
    so an audit count costs no second job and no re-read of the
    output — the reference's ``count()`` after every write recomputes
    the full lineage (``Silver Layer.py:125``).  Returns a dict in the
    order of ``metrics``."""
    obs = Observation()
    exprs = [c.alias(k) for k, c in (metrics or {"rows": F.count(F.lit(1))}).items()]
    write(df.observe(obs, *exprs))
    return obs.get


def write_table(
    df: DataFrame, path: str, mode: str = "overwrite", fmt: str = "parquet"
) -> None:
    """Overwrite-save a table directory (parity with
    ``df.write.format("delta").mode("overwrite").saveAsTable``,
    `Silver Layer.py:120`)."""
    if fmt == "delta":
        delta_io.require_delta()
        df.write.format("delta").mode(mode).option(
            "overwriteSchema", "true"
        ).save(path)
        return
    df.write.mode(mode).parquet(path)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
    coalesce_per_partition: bool = True,
    fmt: str = "parquet",
) -> None:
    """Partitioned overwrite (parity with `Gold Layer.py:153-156`).

    ``coalesce_per_partition`` shuffles rows to their partition before
    the write so each hive partition gets contiguous files — the
    difference between 32 files/partition and 1 at local scale, and
    between millions of small files and thousands at 100 TB.
    """
    if coalesce_per_partition and partition_cols:
        df = df.repartition(*partition_cols)
    w = df.write.mode(mode).partitionBy(*partition_cols)
    if fmt == "delta":
        delta_io.require_delta()
        w.format("delta").option("overwriteSchema", "true").save(path)
        return
    w.parquet(path)


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    num_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Range-clustered parquet layout (the OSS analog of
    ``OPTIMIZE ... ZORDER BY`` for a single sort dimension).

    ``repartitionByRange`` gives each output file a disjoint value
    range of ``cluster_cols`` and ``sortWithinPartitions`` orders rows
    inside, so every parquet row group carries tight min/max stats on
    the cluster key.  A selective predicate on that key then skips
    whole files/row groups at scan time — the data-skipping lever that
    matters once a table is too big to re-read: partition pruning
    handles the coarse (low-cardinality) dimension, clustering handles
    the fine one.
    """
    from pyspark.sql import functions as F

    cols = [F.col(c) for c in cluster_cols]
    ranged = (
        df.repartitionByRange(num_files, *cols)
        if num_files
        else df.repartitionByRange(*cols)
    )
    ranged.sortWithinPartitions(*cols).write.mode(mode).parquet(path)


def with_zorder_key(
    df: DataFrame,
    cols: list[str],
    bits_per_dim: int = 8,
    relative_error: float = 0.01,
) -> DataFrame:
    """Morton (Z-order) interleave key over 2+ numeric columns.

    Single-dimension range clustering (:func:`write_clustered`) makes
    files selective on ONE key and leaves every other column's
    per-file span at the full range.  The Z-curve interleaves the
    bits of each dimension's bucket id, so proximity on the curve
    implies proximity in EVERY dimension at once — after sorting by
    the key, each file covers a small hyper-rectangle, and parquet
    min/max stats prune on whichever clustered column a predicate
    touches (the OPTIMIZE ... ZORDER BY layout, built from OSS
    pieces).

    Bucketing is QUANTILE-based, not linear min-max: per-column
    boundaries come from one distributed ``approxQuantile`` pass
    (skew-safe — a heavy-hitter value cannot collapse the rest of the
    range into one bucket the way linear scaling does).

    Bucket lookup + interleave run as ONE vectorized Arrow pass
    (``mapInArrow``): ``numpy.searchsorted(bounds, x, 'right')`` is
    the same "count of bounds <= x" the previous binary when-tree
    computed, and the interleave is a 2^bits spread-table gather.
    The when-tree form (255 nested IFs per column) compiled but ran
    ~2 s/600k rows — a generated method that large is never JIT'd —
    vs ~0.9 s for the Arrow pass including the column transfer
    (measured on the q90 write at sf0.1; r15).  Payload columns ride
    through the Arrow batch untouched (no pandas conversion), the
    kernel is a pure map (zero shuffle), and the driver holds only
    ``cols x 2^bits`` boundary doubles.  NULL/NaN dimension values
    land in bucket 0, exactly as the when-tree's else-chain did.
    """

    n_buckets = 1 << bits_per_dim
    probs = [i / n_buckets for i in range(1, n_buckets)]
    # ONE multi-column approxQuantile pass — the per-column form would
    # rescan the corpus once per clustered dimension
    all_bounds = df.approxQuantile(cols, probs, relative_error)
    n_dims = len(cols)
    if bits_per_dim * n_dims > 63:
        raise ValueError("zorder key must fit in a signed 64-bit int")

    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields]
        + [f"__zb{d} int" for d in range(n_dims)]
        + ["__zkey bigint"]
    )
    names = [f.name for f in df.schema.fields]

    def kernel(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        bounds = [np.asarray(b, dtype=np.float64) for b in all_bounds]
        # spread[v] places bit i of v at position i * n_dims; dim d is
        # then shifted left by d — bit i of dim d lands at
        # i * n_dims + d, the exact layout of the prior expression
        spread = np.array(
            [
                sum(((v >> i) & 1) << (i * n_dims) for i in range(bits_per_dim))
                for v in range(n_buckets)
            ],
            dtype=np.int64,
        )
        for batch in batches:
            zkey = np.zeros(batch.num_rows, dtype=np.int64)
            zbs = []
            for d, c in enumerate(cols):
                x = pc.cast(
                    batch.column(names.index(c)), pa.float64()
                ).to_numpy(zero_copy_only=False)
                zb = np.searchsorted(bounds[d], x, side="right").astype(np.int64)
                zb[~(x == x)] = 0  # NULL/NaN -> bucket 0 (when-tree parity)
                zbs.append(zb)
                zkey += spread[zb] << d
            yield pa.RecordBatch.from_arrays(
                list(batch.columns)
                + [pa.array(zb.astype(np.int32)) for zb in zbs]
                + [pa.array(zkey)],
                names=names + [f"__zb{d}" for d in range(n_dims)] + ["__zkey"],
            )

    return df.mapInArrow(kernel, schema=out_schema)


def write_shuffled(
    df: DataFrame,
    path: str,
    id_col: str,
    num_buckets: int = 32,
    salt: str = "",
    mode: str = "overwrite",
) -> None:
    """Deterministic globally-shuffled export — the training-data
    writer: sample order must be (pseudo-)random, yet reproducible
    and auditable, because the order IS the training curriculum and
    resume-from-step needs the exact permutation back.

    Every row gets ``__h = md5(salt || id)``; the global order
    (``__bucket`` asc, ``__h`` asc) is a deterministic permutation
    fixed entirely by ``(salt, id)`` — reshuffling between epochs is
    a salt change, not a new mechanism.  ``__bucket`` is the first 8
    hex chars of ``__h`` mod ``num_buckets`` (uniform by
    construction — a salted hash key cannot be hot, so the per-bucket
    sort below is exempt from the hot-key-window hazard), ``__pos``
    is the 1-based rank within the bucket.  All three audit columns
    are written alongside the payload.

    Scale shape: ONE hash exchange on ``__bucket`` (the rank
    window's requirement is satisfied by the explicit repartition, so
    it adds no second shuffle) + a per-bucket sort of ~N/num_buckets
    rows — never a global total-order sort.  Size ``num_buckets`` to
    the target file size (100 TB / 1 GiB ≈ 100k buckets); each
    bucket lands in exactly one task, so files are whole buckets and
    concatenating them in bucket order replays the permutation.
    ``id_col`` must be non-null and unique.
    """
    from pyspark.sql import Window, functions as F

    h = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    keyed = df.withColumn("__h", h).withColumn(
        "__bucket",
        (
            F.conv(F.substring(F.col("__h"), 1, 8), 16, 10).cast("long")
            % F.lit(num_buckets)
        ).cast("int"),
    )
    w = Window.partitionBy("__bucket").orderBy("__h", id_col)
    (
        keyed.repartition(num_buckets, F.col("__bucket"))
        # row_number both ranks and SORTS each task by
        # (__bucket, __h, id) — the written row order is the claimed
        # permutation, no separate sortWithinPartitions needed
        .withColumn("__pos", F.row_number().over(w).cast("long"))
        .write.mode(mode)
        .parquet(path)
    )


def audit_shuffled(spark, path: str, id_col: str) -> DataFrame:
    """Read back a :func:`write_shuffled` export and verify the
    claimed permutation: re-rank each bucket by ``(__h, id)`` and
    count rows whose written ``__pos`` disagrees (must be 0), plus a
    positional checksum ``Σ __pos * id`` and the bucket's hash span.
    Against an independent oracle the checksum pins the EXACT
    permutation — any lost, duplicated, misbucketed or misordered
    row flips it."""
    from pyspark.sql import Window, functions as F

    back = spark.read.parquet(path)
    w = Window.partitionBy("__bucket").orderBy("__h", id_col)
    return (
        back.withColumn("__rank", F.row_number().over(w).cast("long"))
        .groupBy(F.col("__bucket").cast("bigint").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(
                F.when(F.col("__pos") != F.col("__rank"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_order_violations"),
            F.sum(F.col("__pos") * F.col(id_col))
            .cast("long")
            .alias("checksum"),
            F.min("__h").alias("h_first"),
            F.max("__h").alias("h_last"),
        )
    )


#: memo for :func:`_directed_salts` — the probe is deterministic per
#: partition count (Spark's int hash is version-stable), so pay the
#: tiny job once per count per session
_SALT_CACHE: dict[int, list[int]] = {}


def _directed_salts(spark, n: int) -> list[int]:
    """``salts[f]`` is an int that Spark's hash partitioning routes to
    partition ``f`` of ``n`` (``pmod(hash(s), n) == f``) — computed by
    probing Spark's own hash in one tiny job, so a precomputed file id
    can be sent to its own shuffle partition EXACTLY, without
    ``repartitionByRange``'s RangePartitioner sampling pass (a full
    extra read of the input).  Deterministic given the Spark hash."""
    from pyspark.sql import functions as F

    if n in _SALT_CACHE:
        return _SALT_CACHE[n]
    got: dict[int, int] = {}
    lo = 0
    # bounded probe (r13 review): coverage is probabilistic, so cap
    # the scan at 32 rounds of n*64 candidates — P(some pmod class
    # unhit) < n * (1 - 1/n)^(2048 n) is astronomically small for any
    # real n, but an unbounded loop on a (hypothetically) degenerate
    # hash would hang the driver.  On exhaustion, fall back to reusing
    # an arbitrary found salt for the missing classes: routing becomes
    # imbalanced (two file ids share a partition, another sits empty),
    # never incorrect — the salt only steers WHICH shuffle partition
    # writes a file.
    for _ in range(32):
        if len(got) >= n:
            break
        rows = (
            spark.range(lo, lo + n * 64)
            .select(
                F.col("id").cast("int").alias("s"),
                F.pmod(F.hash(F.col("id").cast("int")), F.lit(n)).alias("f"),
            )
            .collect()
        )
        for r in rows:
            got.setdefault(r["f"], r["s"])
        lo += n * 64
    if len(got) < n:
        fallback = next(iter(got.values()), 0)
        got = {f: got.get(f, fallback) for f in range(n)}
    _SALT_CACHE[n] = [got[f] for f in range(n)]
    return _SALT_CACHE[n]


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    num_files: int | None = None,
    bits_per_dim: int = 8,
    mode: str = "overwrite",
    partitioner: str = "prefix",
) -> None:
    """Z-order-clustered parquet layout over multiple columns:
    partition + sort on the Morton key of :func:`with_zorder_key`, then
    drop the helper columns.  Every output file covers a small
    hyper-rectangle of the clustered dimensions, so predicates on ANY
    of them skip files via parquet min/max stats.

    ``partitioner='prefix'`` (default) assigns each row's file as the
    TOP bits of its Morton key — deterministic contiguous key ranges,
    computed per-row with no extra pass.  ``'range'`` is the prior
    behavior (``repartitionByRange`` on the key): file boundaries are
    row-balanced by sampling, at the cost of RangePartitioner's
    sampling job — a full extra READ of the input, which at 100 TB is
    the single largest avoidable cost in this writer (prefix mode
    scans the data exactly twice: the quantile pass and the shuffle
    write; range mode three times).  The prefix trade is file-SIZE
    balance: a prefix cell's row mass is bounded by the smallest
    per-dimension quantile-bucket range it fixes, so with d dims and
    2^p files a file holds at most ~2^(p - floor(p/d) - ... ) mass —
    for 2 dims and 32 files, worst case ~4x the target size when the
    dims are adversarially correlated (independent or monotonically
    correlated dims stay balanced; the quantile bucketing already
    guarantees UNIFORM marginals).  Rows are routed to their exact
    prefix partition via :func:`_directed_salts` (hash-partitioning
    on a salt probed to land on the right partition id), so files and
    key ranges stay 1:1 — never two disjoint ranges in one file.
    ``num_files`` rounds up to a power of two in prefix mode."""
    from pyspark.sql import functions as F

    keyed = with_zorder_key(df, cols, bits_per_dim)
    if partitioner == "prefix":
        total_bits = bits_per_dim * len(cols)
        want = num_files or int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
        p_bits = min(total_bits, max(0, (int(want) - 1).bit_length()))
        n_parts = 1 << p_bits
        shift = total_bits - p_bits
        salts = _directed_salts(df.sparkSession, n_parts)
        # ONE array literal, not F.array(*[F.lit(s) ...]): the
        # per-literal form is one py4j round trip per file plus an
        # n_parts-child expression — the exact construction cost
        # with_zorder_key measured (~3.5 s / 1000 round trips) and
        # removed for its own bit columns
        salt_arr = F.lit([int(s) for s in salts])
        fid = F.shiftright(F.col("__zkey"), shift).cast("int")
        ranged = keyed.withColumn(
            "__fsalt", F.element_at(salt_arr, fid + 1)
        ).repartition(n_parts, F.col("__fsalt"))
        drop_extra = ("__fsalt",)
    elif partitioner == "range":
        ranged = (
            keyed.repartitionByRange(num_files, F.col("__zkey"))
            if num_files
            else keyed.repartitionByRange(F.col("__zkey"))
        )
        drop_extra = ()
    else:
        raise ValueError(
            f"unknown partitioner {partitioner!r}: expected 'prefix' or 'range'"
        )
    (
        ranged.sortWithinPartitions("__zkey")
        .drop("__zkey", *[f"__zb{d}" for d in range(len(cols))], *drop_extra)
        .write.mode(mode)
        .parquet(path)
    )
