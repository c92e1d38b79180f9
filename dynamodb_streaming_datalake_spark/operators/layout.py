"""Multi-dimensional file layout (z-order) for data skipping.

At 100 TB the cheapest query is the one that never reads the file:
parquet row-group/file min-max statistics prune reads only if rows with
similar values are physically co-located. Sorting by one column skips
perfectly on that column and not at all on others; interleaving the
bits of several columns' ranks (a Morton / z-order curve) gives every
interleaved column locality, so selective predicates on ANY of them
prune files. This is the layout strategy behind Delta Lake's
``OPTIMIZE ZORDER BY`` and ClickHouse/Databricks liquid clustering —
re-expressed here as plain declarative Spark: normalize, quantize,
bit-interleave (all JVM-side column expressions), then
``repartitionByRange`` + ``sortWithinPartitions`` on the z-value.

The reference has no layout management at all beyond Firehose's
time-prefix (`/root/reference/lib/dynamodb-streaming-datalake-stack.ts
:222`) — time is the ONE dimension its lake can skip on; z-order adds
the rest.

Scale notes:
* per-column quantile cutoffs come from a single 1-row aggregate
  (t-digest ``percentile_approx``) broadcast back onto the frame — no
  driver collect, no second pass per column;
* quantization to 8 bits/column bounds the interleave at 2 cols x 8
  bits = 16-bit z-values — enough to order thousands of files;
* ``repartitionByRange`` samples the z-value distribution (Spark's
  range partitioner), so output files are size-balanced even when the
  value distribution is skewed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BITS = 8


def _quantize(c: Column, cutoffs: Column) -> Column:
    """Quantile-rank a numeric column into [0, 2^BITS): bucket = how
    many of the 2^BITS-1 approx-quantile cutoffs lie at/below the
    value. Equal-population buckets (not min-max scaling) are what make
    the z-curve's sqrt-locality guarantee hold under skew — min-max
    buckets collapse when the distribution bunches, putting most rows
    in a few codes and spreading any selective predicate over most
    files."""
    x = c.cast("double")
    b = F.size(F.filter(cutoffs, lambda q: q <= x))
    return F.least(F.greatest(b, F.lit(0)), F.lit(2**BITS - 1)).cast("long")


def _interleave(a: Column, b: Column) -> Column:
    """Morton-interleave two BITS-bit integers (a gets even bits)."""
    z = F.lit(0).cast("long")
    for k in range(BITS):
        abit = F.shiftleft(F.shiftright(a, k).bitwiseAND(F.lit(1)), 2 * k)
        bbit = F.shiftleft(F.shiftright(b, k).bitwiseAND(F.lit(1)), 2 * k + 1)
        z = z.bitwiseOR(abit).bitwiseOR(bbit)
    return z


def zorder_write(
    df: DataFrame, cols: tuple[str, str], path: str, n_files: int = 16
) -> None:
    """Write ``df`` as ``n_files`` parquet files z-ordered on two
    numeric columns, so min-max pruning works for predicates on either
    column (or both)."""
    c0, c1 = cols
    probs = [i / (2**BITS) for i in range(1, 2**BITS)]
    stats = df.agg(
        F.percentile_approx(F.col(c0).cast("double"), probs).alias("q0"),
        F.percentile_approx(F.col(c1).cast("double"), probs).alias("q1"),
    )
    z = _interleave(
        _quantize(F.col(c0), F.col("q0")),
        _quantize(F.col(c1), F.col("q1")),
    )
    (
        df.join(F.broadcast(stats))
        .withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z", "q0", "q1")
        .write.mode("overwrite")
        .parquet(path)
    )


# ---------------------------------------------------------------------------
# driver-gated z-order query (round 5)
# ---------------------------------------------------------------------------


def ensure_zorder_events(spark, sf_dir: str) -> str:
    """Z-ordered copy of ``events`` on (user_id, value), built once per
    sf_dir with the shared cache discipline (`cache.ensure_cached_build`)."""
    import os

    from dynamodb_streaming_datalake_spark.cache import ensure_cached_build
    from dynamodb_streaming_datalake_spark.sources.readers import read_table

    def build(build_dir: str) -> None:
        zorder_write(
            read_table(spark, sf_dir, "events"),
            ("user_id", "value"),
            os.path.join(build_dir, "events"),
        )

    return ensure_cached_build("zorder", sf_dir, build)


def _register() -> None:
    import os

    from dynamodb_streaming_datalake_spark.operators.relational import (
        _sql_dsum,
        dsum,
    )
    from dynamodb_streaming_datalake_spark.registry import query

    @query(
        "q_zorder_scan",
        oracle=f"""
        SELECT event_type,
               COUNT(*) AS n_events,
               {_sql_dsum('value', 'total_value')}
        FROM events
        WHERE user_id BETWEEN 40 AND 80 AND value BETWEEN 50 AND 500
        GROUP BY event_type
        """,
    )
    def q_zorder_scan(spark, sf_dir):
        """Layout result-invisibility under the oracle gate: the query
        scans the Z-ORDERED copy of events (Morton-interleaved
        (user_id, value) layout, cached per sf_dir) with a selective
        predicate on BOTH interleaved dimensions, and must hash-match
        the oracle computed from the ORIGINAL parquet — re-laying-out
        data can change which files a predicate reads, never the
        answer. File-level pruning efficacy vs a single-sort layout is
        measured separately in tests/test_maintenance.py.

        Scale: the z-write is one approx-quantile aggregate + one
        range repartition; the read back is a plain pruned scan."""
        path = ensure_zorder_events(spark, sf_dir)
        ev = spark.read.parquet(os.path.join(path, "events"))
        return (
            ev.where(
                F.col("user_id").between(40, 80)
                & F.col("value").between(50, 500)
            )
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                dsum(F.col("value"), "total_value"),
            )
        )


_register()


# ---------------------------------------------------------------------------
# columnar encoding advisor (round 8)
# ---------------------------------------------------------------------------
# The decision every Parquet/ORC writer makes per column chunk —
# RLE vs dictionary vs delta vs plain — surfaced as an operator, so a
# lake owner can audit WHY a table compresses badly and which sort key
# would fix it. Stats are computed over the deterministic event_id
# order (the insertion-order proxy); in a real writer the same pass
# runs per file/row-group, embarrassingly parallel.

#: run length that makes RLE win
ENC_RLE_MIN_RUN = 4
#: distinct-value count that fits a 1-byte dictionary
ENC_DICT_MAX = 256
#: delta width that makes delta encoding worthwhile for 64-bit ints
ENC_DELTA_MAX_BITS = 20


def _register_advisor() -> None:
    from pyspark.sql import SparkSession, Window

    from dynamodb_streaming_datalake_spark.registry import format_doc as _fmt
    from dynamodb_streaming_datalake_spark.registry import query
    from dynamodb_streaming_datalake_spark.sources.readers import read_table

    # one subquery per audited column (string / int / epoch-seconds)
    sub_type = f"""
        SELECT 'event_type' AS col_name,
               CAST(COUNT(*) AS BIGINT) AS n_values,
               CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct,
               CAST(SUM(CASE WHEN rn = 1 OR v IS DISTINCT FROM prev
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_runs,
               CAST(NULL AS BIGINT) AS max_delta_bits
        FROM (SELECT event_type AS v,
                     LAG(event_type) OVER (ORDER BY event_id) AS prev,
                     ROW_NUMBER() OVER (ORDER BY event_id) AS rn
              FROM events)
    """
    sub_user = f"""
        SELECT 'user_id', CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(DISTINCT v) AS BIGINT),
               CAST(SUM(CASE WHEN rn = 1 OR v IS DISTINCT FROM prev
                        THEN 1 ELSE 0 END) AS BIGINT),
               CAST(MAX(CASE WHEN rn > 1 THEN
                    CASE WHEN v = prev THEN 1
                         ELSE length(bin(abs(v - prev))) END END) AS BIGINT)
        FROM (SELECT user_id AS v,
                     LAG(user_id) OVER (ORDER BY event_id) AS prev,
                     ROW_NUMBER() OVER (ORDER BY event_id) AS rn
              FROM events)
    """
    sub_ts = f"""
        SELECT 'ts_epoch', CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(DISTINCT v) AS BIGINT),
               CAST(SUM(CASE WHEN rn = 1 OR v IS DISTINCT FROM prev
                        THEN 1 ELSE 0 END) AS BIGINT),
               CAST(MAX(CASE WHEN rn > 1 THEN
                    CASE WHEN v = prev THEN 1
                         ELSE length(bin(abs(v - prev))) END END) AS BIGINT)
        FROM (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS v,
                     LAG(CAST(floor(epoch(ts)) AS BIGINT)) OVER (ORDER BY event_id) AS prev,
                     ROW_NUMBER() OVER (ORDER BY event_id) AS rn
              FROM events)
    """

    @query(
        "q_encoding_advisor",
        oracle=f"""
        WITH stats AS (
            {sub_type} UNION ALL {sub_user} UNION ALL {sub_ts}
        )
        SELECT col_name, n_values, n_distinct, n_runs, max_delta_bits,
               CASE
                 WHEN n_values >= n_runs * {ENC_RLE_MIN_RUN} THEN 'rle'
                 WHEN n_distinct <= {ENC_DICT_MAX} THEN 'dict'
                 WHEN max_delta_bits IS NOT NULL
                      AND max_delta_bits <= {ENC_DELTA_MAX_BITS}
                   THEN 'delta'
                 ELSE 'plain'
               END AS recommendation
        FROM stats
        ORDER BY col_name
        """,
    )
    def q_encoding_advisor(spark: SparkSession, sf_dir: str):
        """Per-column encoding advisor over events in event_id order:
        run count (RLE), distinct count (dictionary), and the max
        delta bit-width between neighbors (delta encoding), folded
        into the writer rule RLE if avg run >= {ENC_RLE_MIN_RUN},
        else dict if <= {ENC_DICT_MAX} distincts, else delta if
        neighbors fit {ENC_DELTA_MAX_BITS} bits, else plain. The
        bit-width uses the exact ``bin()``-length trick (no float
        log2), so the report is hash-stable.

        Scale: the ordered window here is a single global sort at
        fixture scale; a production writer runs the identical pass per
        row group (bounded sort, embarrassingly parallel) — the
        per-block generalization is mechanical. Everything else is
        one aggregate per column."""
        e = read_table(spark, sf_dir, "events").select(
            "event_id",
            "event_type",
            "user_id",
            F.unix_timestamp("ts").alias("ts_epoch"),
        )
        w = Window.orderBy("event_id")
        rows = []
        for name, is_num in (
            ("event_type", False),
            ("user_id", True),
            ("ts_epoch", True),
        ):
            v = F.col(name)
            d = e.select(
                v.alias("v"),
                F.lag(v).over(w).alias("prev"),
                F.row_number().over(w).alias("rn"),
            )
            new_run = (F.col("rn") == 1) | ~F.col("v").eqNullSafe(
                F.col("prev")
            )
            if is_num:
                delta_bits = F.max(
                    F.when(
                        F.col("rn") > 1,
                        F.when(F.col("v") == F.col("prev"), F.lit(1)).otherwise(
                            F.length(
                                F.bin(F.abs(F.col("v") - F.col("prev")))
                            )
                        ),
                    )
                ).cast("bigint")
            else:
                delta_bits = F.lit(None).cast("bigint")
            rows.append(
                d.agg(
                    F.lit(name).alias("col_name"),
                    F.count(F.lit(1)).cast("bigint").alias("n_values"),
                    F.countDistinct("v").cast("bigint").alias("n_distinct"),
                    F.sum(new_run.cast("int")).cast("bigint").alias("n_runs"),
                    delta_bits.alias("max_delta_bits"),
                )
            )
        stats = rows[0].unionByName(rows[1]).unionByName(rows[2])
        rec = (
            F.when(
                F.col("n_values") >= F.col("n_runs") * ENC_RLE_MIN_RUN,
                F.lit("rle"),
            )
            .when(F.col("n_distinct") <= ENC_DICT_MAX, F.lit("dict"))
            .when(
                F.col("max_delta_bits").isNotNull()
                & (F.col("max_delta_bits") <= ENC_DELTA_MAX_BITS),
                F.lit("delta"),
            )
            .otherwise(F.lit("plain"))
        )
        return stats.select(
            "col_name",
            "n_values",
            "n_distinct",
            "n_runs",
            "max_delta_bits",
            rec.alias("recommendation"),
        ).orderBy("col_name")

    _fmt(
        q_encoding_advisor,
        ENC_RLE_MIN_RUN=ENC_RLE_MIN_RUN,
        ENC_DICT_MAX=ENC_DICT_MAX,
        ENC_DELTA_MAX_BITS=ENC_DELTA_MAX_BITS,
    )


_register_advisor()


# ---------------------------------------------------------------------------
# partition sizing advisor (round 9)
# ---------------------------------------------------------------------------
# The layout question BEFORE encoding: how many shuffle partitions and
# output files should a table get? The advisor measures each table's
# exact in-memory byte volume (fixed widths per numeric/timestamp
# column + measured byte lengths of every varchar — all integer
# arithmetic, so the totals are hash-exact) and applies the standard
# sizing rule: shuffle partitions at the 128 MB spill-safe target,
# output files at 512 MB scan-efficient target, plus the same numbers
# at a 1000x projection — the "would this layout survive the scale-up"
# check the plan reviews keep asking, answered as data.

#: spill-safe shuffle partition target (Spark's rule-of-thumb)
PART_SHUFFLE_BYTES = 128 * 1024 * 1024
#: scan-efficient output file target
PART_FILE_BYTES = 512 * 1024 * 1024
#: projection factor for the scale-up column
PART_PROJECTION = 1000

#: per-table row-byte expressions: fixed 8 bytes per BIGINT / DOUBLE /
#: TIMESTAMP, 4 per INTEGER, measured byte length per VARCHAR. The
#: column sets are the tables' full schemas — a new column not added
#: here would under-count, which is why the expression lists the
#: columns explicitly instead of a magic constant.
_PART_TABLES = {
    "lineitem": "8*3 + 4 + 8*4 + octet_length(l_returnflag)"
    " + octet_length(l_linestatus) + 8",
    "events": "8 + 8 + 8 + octet_length(event_type) + 8"
    " + octet_length(props)",
    "documents": "8 + octet_length(text) + octet_length(lang)"
    " + octet_length(source) + 8",
}


def _register_partition_advisor() -> None:
    from pyspark.sql import SparkSession

    from dynamodb_streaming_datalake_spark.registry import format_doc as _fmt
    from dynamodb_streaming_datalake_spark.registry import query
    from dynamodb_streaming_datalake_spark.sources.readers import read_table

    def _sql_branch(table: str, expr: str) -> str:
        # DuckDB: strlen() is the byte length of a VARCHAR
        dexpr = expr.replace("octet_length(", "strlen(")
        return f"""
        SELECT '{table}' AS table_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM({dexpr}) AS BIGINT) AS total_bytes
        FROM {table}"""

    branches = " UNION ALL ".join(
        _sql_branch(t, e) for t, e in _PART_TABLES.items()
    )

    @query(
        "q_partition_advisor",
        oracle=f"""
        WITH stats AS ({branches})
        SELECT table_name, n_rows,
               round(CAST(total_bytes AS DOUBLE) / 1048576.0, 2) AS est_mb,
               round(CAST(total_bytes AS DOUBLE) / n_rows, 2)
                 AS avg_row_bytes,
               GREATEST(1, CAST((total_bytes + {PART_SHUFFLE_BYTES - 1})
                     // {PART_SHUFFLE_BYTES} AS BIGINT))
                 AS rec_shuffle_partitions,
               GREATEST(1, CAST((total_bytes + {PART_FILE_BYTES - 1})
                     // {PART_FILE_BYTES} AS BIGINT)) AS rec_output_files,
               GREATEST(1, CAST((total_bytes * {PART_PROJECTION}
                      + {PART_SHUFFLE_BYTES - 1})
                     // {PART_SHUFFLE_BYTES} AS BIGINT))
                 AS rec_shuffle_partitions_at_1000x
        FROM stats
        ORDER BY table_name
        """,
    )
    def q_partition_advisor(spark: SparkSession, sf_dir: str):
        """Partition/file sizing advisor over the lake's variable-width
        tables: exact per-table byte volume (fixed numeric widths +
        measured varchar byte lengths — integer sums, hash-exact),
        the 128 MB shuffle-partition and 512 MB output-file
        recommendations, and the same sizing at a {PART_PROJECTION}x
        projection. This is the sizing pass that feeds
        ``spark.sql.shuffle.partitions`` / repartition counts before a
        production run — the scale-readiness review as a query.

        Scale: one map-side-combined aggregate per table; nothing else.
        """
        out = None
        for table, expr in _PART_TABLES.items():
            t = read_table(spark, sf_dir, table)
            row = t.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum(F.expr(expr)).cast("bigint").alias("total_bytes"),
            ).select(
                F.lit(table).alias("table_name"),
                "n_rows",
                "total_bytes",
            )
            out = row if out is None else out.unionByName(row)
        tb = F.col("total_bytes")
        return out.select(
            "table_name",
            "n_rows",
            F.round(tb.cast("double") / F.lit(1048576.0), 2).alias("est_mb"),
            F.round(tb.cast("double") / F.col("n_rows"), 2).alias(
                "avg_row_bytes"
            ),
            F.greatest(
                F.lit(1).cast("bigint"),
                F.expr(
                    f"(total_bytes + {PART_SHUFFLE_BYTES - 1})"
                    f" div {PART_SHUFFLE_BYTES}"
                ),
            ).alias("rec_shuffle_partitions"),
            F.greatest(
                F.lit(1).cast("bigint"),
                F.expr(
                    f"(total_bytes + {PART_FILE_BYTES - 1})"
                    f" div {PART_FILE_BYTES}"
                ),
            ).alias("rec_output_files"),
            F.greatest(
                F.lit(1).cast("bigint"),
                F.expr(
                    f"(total_bytes * {PART_PROJECTION}"
                    f" + {PART_SHUFFLE_BYTES - 1}) div {PART_SHUFFLE_BYTES}"
                ),
            ).alias("rec_shuffle_partitions_at_1000x"),
        ).orderBy("table_name")

    _fmt(q_partition_advisor, PART_PROJECTION=PART_PROJECTION)


_register_partition_advisor()


def _register_zonemap() -> None:
    from pyspark.sql import Window

    from dynamodb_streaming_datalake_spark.registry import format_doc as _fmt
    from dynamodb_streaming_datalake_spark.registry import query
    from dynamodb_streaming_datalake_spark.sources.readers import read_table

    #: simulated file count for the zone-map model (one parquet file
    #: per ntile bucket).
    ZM_FILES = 64

    #: calendar months probed by the predicate panel (one-month range
    #: scans, the canonical time-filter shape of the CDC zone).
    ZM_MONTHS = (
        "1995-03-01",
        "1996-06-01",
        "1997-09-01",
        "1998-12-01",
        "2000-03-01",
        "2001-06-01",
    )

    _pred_values = ", ".join(f"(TIMESTAMP '{m}')" for m in ZM_MONTHS)
    _overlap = (
        "z.mx >= p.pred_month "
        "AND z.mn < p.pred_month + INTERVAL 1 MONTH"
    )

    @query(
        "q_zonemap_prune",
        oracle=f"""
        WITH nat AS (
            SELECT 'natural' AS layout,
                   ntile({ZM_FILES}) OVER (ORDER BY o_orderkey) AS file_id,
                   o_orderdate
            FROM orders
        ),
        srt AS (
            SELECT 'date_sorted' AS layout,
                   ntile({ZM_FILES}) OVER (
                       ORDER BY o_orderdate, o_orderkey) AS file_id,
                   o_orderdate
            FROM orders
        ),
        files AS (SELECT * FROM nat UNION ALL SELECT * FROM srt),
        zmaps AS (
            SELECT layout, file_id,
                   MIN(o_orderdate) AS mn, MAX(o_orderdate) AS mx,
                   COUNT(*) AS n
            FROM files GROUP BY layout, file_id
        ),
        preds AS (SELECT * FROM (VALUES {_pred_values}) p(pred_month)),
        scan AS (
            SELECT z.layout, p.pred_month,
                   COUNT(*) FILTER (WHERE {_overlap}) AS files_scanned,
                   SUM(z.n) FILTER (WHERE {_overlap}) AS rows_scanned
            FROM zmaps z CROSS JOIN preds p
            GROUP BY z.layout, p.pred_month
        ),
        m AS (
            SELECT p.pred_month, COUNT(o.o_orderkey) AS rows_matching
            FROM preds p
            LEFT JOIN orders o
              ON date_trunc('month', o.o_orderdate) = p.pred_month
            GROUP BY p.pred_month
        )
        SELECT s.layout, s.pred_month,
               CAST({ZM_FILES} AS INT) AS files_total,
               CAST(s.files_scanned AS BIGINT) AS files_scanned,
               CAST(COALESCE(s.rows_scanned, 0) AS BIGINT) AS rows_scanned,
               CAST(m.rows_matching AS BIGINT) AS rows_matching,
               round(1.0 - s.files_scanned / {ZM_FILES}.0, 6) AS skip_frac,
               CASE WHEN m.rows_matching > 0
                    THEN round(COALESCE(s.rows_scanned, 0)
                               / CAST(m.rows_matching AS DOUBLE), 6)
               END AS read_amp
        FROM scan s JOIN m USING (pred_month)
        ORDER BY s.layout, s.pred_month
        """,
    )
    def q_zonemap_prune(spark, sf_dir):
        """Zone-map (file min-max) pruning simulator: orders split into
        {ZM_FILES} equal files under two writer layouts — 'natural'
        (o_orderkey order: arrival order, date-uncorrelated) and
        'date_sorted' — then a panel of one-month predicates is
        evaluated against each layout's per-file min/max o_orderdate.
        Per (layout, month): files/rows a stats-pruning scan must
        read, exact matching rows, the skipped-file fraction, and read
        amplification (rows scanned per matching row). The pair of
        rows per month IS the case for sorting on the filter column:
        natural scans ~every file, date_sorted a handful.

        Scale shape: ntile = the range partition a sorted writer
        performs anyway; zone maps are one groupBy; the predicate
        panel is a {ZM_FILES}x|panel| constant-size cross
        (whitelisted). Models parquet row-group stats pruning —
        `PushedFilters` made quantitative."""
        o = read_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderdate"
        )
        nat = o.select(
            F.lit("natural").alias("layout"),
            F.ntile(ZM_FILES)
            .over(Window.orderBy("o_orderkey"))
            .alias("file_id"),
            "o_orderdate",
        )
        srt = o.select(
            F.lit("date_sorted").alias("layout"),
            F.ntile(ZM_FILES)
            .over(Window.orderBy("o_orderdate", "o_orderkey"))
            .alias("file_id"),
            "o_orderdate",
        )
        zmaps = (
            nat.unionAll(srt)
            .groupBy("layout", "file_id")
            .agg(
                F.min("o_orderdate").alias("mn"),
                F.max("o_orderdate").alias("mx"),
                F.count(F.lit(1)).alias("n"),
            )
        )
        preds = spark.createDataFrame(
            [(m,) for m in ZM_MONTHS], "pred_month string"
        ).select(F.col("pred_month").cast("timestamp"))
        month_end = F.col("pred_month") + F.expr("INTERVAL 1 MONTH")
        overlap = (F.col("mx") >= F.col("pred_month")) & (
            F.col("mn") < month_end
        )
        scan = (
            zmaps.crossJoin(F.broadcast(preds))
            .groupBy("layout", "pred_month")
            .agg(
                F.count(F.when(overlap, 1)).alias("files_scanned"),
                F.sum(F.when(overlap, F.col("n"))).alias("rows_scanned"),
            )
        )
        # aggregate to month grain first (bounded rows), then join the
        # panel; coalesce keeps empty months at 0 instead of dropping
        by_month = (
            o.groupBy(
                F.date_trunc("month", "o_orderdate").alias("pred_month")
            )
            .agg(F.count(F.lit(1)).alias("n_month"))
        )
        m = preds.join(by_month, "pred_month", "left").select(
            "pred_month",
            F.coalesce("n_month", F.lit(0)).alias("rows_matching"),
        )
        return (
            scan.join(m, "pred_month")
            .select(
                "layout",
                "pred_month",
                F.lit(ZM_FILES).cast("int").alias("files_total"),
                F.col("files_scanned").cast("long").alias("files_scanned"),
                F.coalesce("rows_scanned", F.lit(0))
                .cast("long")
                .alias("rows_scanned"),
                F.col("rows_matching").cast("long").alias("rows_matching"),
                F.round(
                    1.0 - F.col("files_scanned") / float(ZM_FILES), 6
                ).alias("skip_frac"),
                F.when(
                    F.col("rows_matching") > 0,
                    F.round(
                        F.coalesce("rows_scanned", F.lit(0))
                        / F.col("rows_matching").cast("double"),
                        6,
                    ),
                ).alias("read_amp"),
            )
            .orderBy("layout", "pred_month")
        )

    _fmt(q_zonemap_prune, ZM_FILES=ZM_FILES)


_register_zonemap()


# ---------------------------------------------------------------------------
# shard rebalance audit: mod-N vs consistent-hash ring — round 15
# ---------------------------------------------------------------------------
# The partition/advisor family sizes TODAY's layout; this audits what
# happens when the cluster GROWS. Adding one node to a mod-N
# assignment remaps ~(N)/(N+1) of all keys (every residue shifts);
# a consistent-hash ring with virtual nodes remaps only the arcs the
# new node claims (~1/(N+1)) — the reason every production shard map
# (Dynamo-style, including the reference's Kinesis shards behind
# SURVEY §2 A1) is a ring. This query MEASURES both movement rates on
# the real key population with the repo's portable hash, so the claim
# is a number, not folklore.

REB_NODES_OLD = 8    #: nodes before the scale-out
REB_NODES_NEW = 9    #: nodes after (one added)
REB_VNODES = 16      #: virtual nodes per physical node (ring evenness)
_REB_SPACE = 2**60   #: portable_hash60 key/token space


def _register_rebalance() -> None:
    from dynamodb_streaming_datalake_spark.registry import (
        format_doc as _fmt,
    )
    from dynamodb_streaming_datalake_spark.registry import query
    from dynamodb_streaming_datalake_spark.sources.readers import read_table
    from dynamodb_streaming_datalake_spark.functions.texthash import (
        portable_hash60,
        sql_portable_hash60,
    )

    def _ring_sql(n_nodes: int) -> str:
        """Token table SQL: (node, token) for n_nodes x REB_VNODES."""
        h = sql_portable_hash60(
            "('node-' || CAST(i.i AS VARCHAR) || '#' || CAST(v.v AS VARCHAR))"
        )
        return f"""
        SELECT i.i AS node, {h} AS token
        FROM generate_series(0, {n_nodes - 1}) i(i)
        CROSS JOIN generate_series(0, {REB_VNODES - 1}) v(v)"""

    keyh = sql_portable_hash60("CAST(o_orderkey AS VARCHAR)")
    oracle = f"""
    WITH k AS (SELECT {keyh} AS h FROM orders),
    told AS ({_ring_sql(REB_NODES_OLD)}),
    tnew AS ({_ring_sql(REB_NODES_NEW)}),
    ring_old AS (
        SELECT k.h,
               arg_min(t.node, (t.token - k.h + {_REB_SPACE})
                       % {_REB_SPACE}) AS node
        FROM k CROSS JOIN told t GROUP BY k.h
    ),
    ring_new AS (
        SELECT k.h,
               arg_min(t.node, (t.token - k.h + {_REB_SPACE})
                       % {_REB_SPACE}) AS node
        FROM k CROSS JOIN tnew t GROUP BY k.h
    ),
    ring AS (
        SELECT 'ring' AS scheme,
               CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(CASE WHEN o.node != n.node THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_moved
        FROM ring_old o JOIN ring_new n USING (h)
    ),
    m AS (
        SELECT 'mod' AS scheme,
               CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(CASE WHEN h % {REB_NODES_OLD}
                             != h % {REB_NODES_NEW}
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
        FROM k
    )
    SELECT scheme, n_keys, n_moved,
           round(CAST(n_moved AS DOUBLE) / n_keys, 6) AS moved_frac
    FROM (SELECT * FROM m UNION ALL SELECT * FROM ring)
    """

    @query("q_shard_rebalance", oracle=oracle)
    def q_shard_rebalance(spark, sf_dir):
        """Key-movement audit for a {REB_NODES_OLD} -> {REB_NODES_NEW}
        node scale-out, measured on the real order-key population
        with the portable hash: the mod-N scheme remaps ~N/(N+1) of
        all keys (every residue shifts) while the consistent-hash
        ring ({REB_VNODES} virtual nodes per physical) remaps only
        the arcs the new node claims (~1/(N+1)) — the number behind
        choosing ring sharding for any stateful scale-out (shards,
        caches, bucketed state stores). The token ring is a pure
        literal, so it is computed at PLAN time and embedded as a
        sorted array: assignment is a map-side successor probe (first
        token clockwise, wrapping to the smallest) — no join, no
        shuffle, exactly the broadcast shard map a production router
        holds. The oracle derives the same owner via modular-distance
        arg-min over the cross product; hash equality proves the
        successor probe and the distance form agree on every key.

        Scale: one scan, zero shuffles — per key a bounded probe of a
        |nodes| x |vnodes| literal array; the DuckDB side's cross
        product is the oracle's readability choice, not the plan."""
        import hashlib

        o = read_table(spark, sf_dir, "orders").select(
            portable_hash60(F.col("o_orderkey").cast("string")).alias("h")
        )

        def ring_tokens(n_nodes):
            """The shard map, computed at PLAN time (tokens are pure
            literals) and embedded as a sorted array — exactly the
            broadcast map a production router holds."""
            toks = sorted(
                (
                    int(
                        hashlib.md5(
                            f"node-{i}#{v}".encode()
                        ).hexdigest()[:15],
                        16,
                    ),
                    i,
                )
                for i in range(n_nodes)
                for v in range(REB_VNODES)
            )
            return toks

        def assign_col(n_nodes):
            """Owner of key hash h: first token clockwise from h (the
            sorted-array successor, wrapping to the first token) — a
            map-side array probe, no join, no shuffle. PRECONDITION:
            h is non-null (it derives from the o_orderkey primary key
            here). The sentinel form returns NULL for a NULL h where
            the old when/otherwise returned the first token's node —
            guard with coalesce before lifting assign_col onto a
            nullable key (r17 ADVICE). Built as ONE
            SQL string (round 17): the Column-op form was ~270 lit/
            struct py4j round trips per ring (~2.5-4 s of construction
            per invocation measured, zero Spark jobs). The wrap case
            is folded into the array as a sentinel token at the top
            of the space (2^60 > every 60-bit hash, so it matches
            whenever no real token does and carries the first token's
            node) — filter is then provably non-empty and the CASE
            disappears; the successor semantics are unchanged."""
            toks = ring_tokens(n_nodes)
            structs = ", ".join(
                f"struct({t}L AS t, {n} AS n)" for t, n in toks
            )
            structs += f", struct({_REB_SPACE}L AS t, {toks[0][1]} AS n)"
            return F.expr(
                f"element_at(filter(array({structs}),"
                " s -> s.t >= h), 1).n"
            )

        ring_moved = o.select(
            assign_col(REB_NODES_OLD).alias("node_old"),
            assign_col(REB_NODES_NEW).alias("node_new"),
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum(
                F.when(F.col("node_old") != F.col("node_new"), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("n_moved"),
        ).select(F.lit("ring").alias("scheme"), "*")
        mod_moved = o.agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum(
                F.when(
                    F.col("h") % REB_NODES_OLD
                    != F.col("h") % REB_NODES_NEW,
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_moved"),
        ).select(F.lit("mod").alias("scheme"), "*")
        out = mod_moved.unionByName(ring_moved)
        return out.select(
            "scheme",
            "n_keys",
            "n_moved",
            F.round(
                F.col("n_moved").cast("double") / F.col("n_keys"), 6
            ).alias("moved_frac"),
        )

    _fmt(
        q_shard_rebalance,
        REB_NODES_OLD=REB_NODES_OLD,
        REB_NODES_NEW=REB_NODES_NEW,
        REB_VNODES=REB_VNODES,
    )


_register_rebalance()
