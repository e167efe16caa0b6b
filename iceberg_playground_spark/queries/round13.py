"""Round-13 operators: the two Iceberg maintenance procedures VERDICT
r12 items 3/4 named as the last missing verbs (the reference's bundled
``tabulario/spark-iceberg`` service ships both as CALL procedures,
/root/reference/docker-compose.yml:58-81).

- b168: REMOVE_ORPHAN_FILES — the file-grain physical reclaim that
  completes the retention story: b166 FORECASTS the reclaim set, b91
  expires snapshots (dir-grain cleanup), and until now nothing deleted
  a file that died at FILE grain inside a still-live directory — the
  exact state a metadata-aligned DELETE (delete_range carving a
  ``paths`` subset) leaves behind. The graded frame walks the whole
  lifecycle and proves reclaim-set equality between the forecast and
  the verb, the in-retention refusal (Iceberg's ``older_than`` guard),
  and byte-identical surviving content.

- b169: REWRITE_POSITION_DELETE_FILES — positional delete files
  accumulate one per DELETE (b104's path) and every MoR scan anti-joins
  all of them; the rewrite compacts every live positional entry into
  ONE delete file at the max original sequence. Sequence scoping stays
  exact because a positional delete masks by EXACT file path and no
  physical path ever appears under two sequence numbers (appends mint
  fresh uuid dirs; rewrites preserve group seqs — the rule cherrypick
  also enforces), so promoting rows to the merged seq exposes them only
  to entries they can never match. Graded on the before/after rollup:
  delete-file count drops 3 -> 1 while masked rows, visible rows, and
  the content checksum are unchanged.

Scale shape (both): metadata plus KB-scale delete-file I/O only — one
JSON header per snapshot, one listdir per staged dir, one scan of the
(file, pos) pair set; data files are never read or moved at any table
size, which is exactly why these procedures are safe to run against a
100 TB table on a cron.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from iceberg_playground_spark.queries._util import (
    int_ln_micro_cte_sql,
    lit_bigint_array,
)
from iceberg_playground_spark.registry import query

# ---------------------------------------------------------------------------
# b168 — remove_orphan_files (file-grain reclaim, forecast-equal)
# ---------------------------------------------------------------------------

_B168_ORACLE = """
WITH ev AS (SELECT count(*) AS n FROM customer WHERE c_custkey % 2 = 0),
od AS (SELECT count(*) AS n, sum(c_custkey) AS s FROM customer
       WHERE c_custkey % 2 = 1)
SELECT 'a_forecast_reclaim' AS phase, CAST(1 AS BIGINT) AS n_files,
       CAST((SELECT n FROM ev) AS BIGINT) AS n_rows,
       CAST(NULL AS BIGINT) AS sum_k
UNION ALL
SELECT 'b_expire_removed_dirs', 0, NULL, NULL
UNION ALL
SELECT 'c_refused_in_retention', 1, NULL, NULL
UNION ALL
SELECT 'd_orphans_removed', 1, NULL, NULL
UNION ALL
SELECT 'e_surviving', 1, (SELECT n FROM od),
       CAST((SELECT s FROM od) AS BIGINT)
ORDER BY phase
"""


@query("b168_remove_orphan_files", oracle=_B168_ORACLE)
def b168_remove_orphan_files(spark: SparkSession, sf: str) -> DataFrame:
    """B168: ``remove_orphan_files`` — physically reclaim files no live
    snapshot references (tables.py::remove_orphan_files; Iceberg's CALL
    procedure of the same name, VERDICT r12 item 3). The demo builds
    the exact state dir-grain retention cannot clean: one append
    writing TWO files in ONE staged dir (evens/odds split by a
    deterministic hash bucket — murmur3 is engine-pinned, so par=0 and
    par=1 always land in different partitions of ``repartition(2,
    par*2)``), then ``delete_range(par, 0, 0)`` drops the evens file
    at METADATA grain (the entry carves a ``paths`` subset; zero data
    I/O). The evens file is now dead at file grain while its dir stays
    live through the odds sibling. Phases graded:

    - a_forecast_reclaim: b166's dry-run counts exactly 1 file /
      n_evens rows reclaimable under keep_last=1 — the promise;
    - b_expire_removed_dirs: expire_snapshots removes ZERO dirs (the
      dir is live — and post the ADVICE-r12 fix, liveness derives from
      ``paths``, never just entry path);
    - c_refused_in_retention: the verb under the DEFAULT 3-day grace
      refuses the now-unreferenced orphan (Iceberg's ``older_than``
      guard — an in-flight writer's output is not an orphan yet);
    - d_orphans_removed: the verb at older_than=0 reclaims exactly the
      forecast set — 1 file, proving forecast/verb equality;
    - e_surviving: the post-cleanup read is byte-identical to the odds
      half (count + key checksum).

    Scale shape: the verb walks snapshot JSON + one listdir per staged
    dir and unlinks; no data file is ever opened — constant work per
    FILE, zero per row, at any table size (plan-pinned: the graded
    frame's only parquet scan is the final surviving read)."""
    from iceberg_playground_spark.queries._util import load
    from iceberg_playground_spark.queries.lakehouse import _built
    from iceberg_playground_spark.tables import LakeCatalog

    def build(tmp: str):
        cat = LakeCatalog(spark, tmp)
        t = cat.create_table(
            "demo",
            "customer_orphan",
            "c_custkey BIGINT, par BIGINT",
            drop_if_exists=True,
        )
        c = load(spark, sf, "customer").select(
            F.col("c_custkey").cast("bigint"),
            (F.col("c_custkey") % 2).cast("bigint").alias("par"),
        )
        # one staged dir, two files: hash(0)%2=1, hash(2)%2=0 pins
        # par=0 -> partition 1, par=1 -> partition 0, forever (Spark's
        # murmur3 is data-only — no sampling, no parallelism input)
        t.append(c.repartition(2, (F.col("par") * 2).cast("bigint")))
        _v, plan = t.delete_range("par", 0, 0)
        assert plan["files_dropped"] == 1 and plan["metadata_only"]
        fc = t.retention_forecast([1]).collect()[0]
        expired = t.expire_snapshots(keep_last=1)
        refused = t.remove_orphan_files()  # default grace: too young
        reclaimed = t.remove_orphan_files(older_than_s=0)
        t._b168_phases = [
            (
                "a_forecast_reclaim",
                int(fc["n_reclaim_files"]),
                int(fc["reclaim_rows"]),
                None,
            ),
            ("b_expire_removed_dirs", int(expired["removed_dirs"]), None, None),
            ("c_refused_in_retention", int(refused["kept_recent"]), None, None),
            (
                "d_orphans_removed",
                int(reclaimed["orphans_removed"]),
                None,
                None,
            ),
        ]
        return t

    t = _built(spark, sf, "b168", build)
    phases = spark.createDataFrame(
        t._b168_phases,
        "phase STRING, n_files BIGINT, n_rows BIGINT, sum_k BIGINT",
    )
    n_files = t.files().count()  # metadata frame: one row per live file
    surviving = (
        t.read()
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("c_custkey").cast("bigint").alias("sum_k"),
        )
        .select(
            F.lit("e_surviving").alias("phase"),
            F.lit(n_files).cast("bigint").alias("n_files"),
            "n_rows",
            "sum_k",
        )
    )
    return phases.unionByName(surviving).orderBy("phase")


# ---------------------------------------------------------------------------
# b169 — rewrite_position_delete_files (delete-side compaction)
# ---------------------------------------------------------------------------

_B169_ORACLE = """
WITH m AS (SELECT count(*) AS n FROM customer
           WHERE c_custkey <= 10 OR c_nationkey = 5
              OR c_custkey % 100 = 7),
v AS (SELECT count(*) AS n, sum(c_custkey) AS s FROM customer
      WHERE NOT (c_custkey <= 10 OR c_nationkey = 5
                 OR c_custkey % 100 = 7))
SELECT 'before' AS phase, CAST(3 AS BIGINT) AS n_pos_files,
       CAST((SELECT n FROM m) AS BIGINT) AS masked_rows,
       CAST((SELECT n FROM v) AS BIGINT) AS visible_rows,
       CAST((SELECT s FROM v) AS BIGINT) AS sum_k
UNION ALL
SELECT 'after', 1, (SELECT n FROM m), (SELECT n FROM v),
       CAST((SELECT s FROM v) AS BIGINT)
ORDER BY phase DESC
"""


@query("b169_rewrite_position_deletes", oracle=_B169_ORACLE)
def b169_rewrite_position_deletes(spark: SparkSession, sf: str) -> DataFrame:
    """B169: ``rewrite_position_delete_files`` — compact the
    accumulated positional delete files into one entry
    (tables.py::rewrite_position_delete_files; Iceberg's CALL
    procedure, VERDICT r12 item 4). Demo lineage: one append, then
    THREE positional DELETEs (key prefix, a nation, a key stripe —
    disjoint by construction since each positional delete only hits
    rows still visible), then the rewrite. Graded before/after on the
    b167-style rollup: positional delete-file count drops 3 -> 1 while
    the masked row total, the visible row count, and the key checksum
    are bit-identical — the proof the merged entry at max(seq)
    preserves merge-on-read scoping exactly (see the path-uniqueness
    argument in the verb's docstring; the time-travel identity is
    pinned in tests/test_maintenance_verbs.py).

    Scale shape: the rewrite scans only the KB-scale (file, pos) pair
    files and writes one back; the graded reads assemble through ONE
    broadcast anti-join instead of three afterwards — the read-
    amplification win is the point of the procedure at 100 TB."""
    import json as _json

    from iceberg_playground_spark.queries._util import load
    from iceberg_playground_spark.queries.lakehouse import _built
    from iceberg_playground_spark.tables import POS_DELETE_DDL, LakeCatalog

    def build(tmp: str):
        cat = LakeCatalog(spark, tmp)
        t = cat.create_table(
            "demo",
            "customer_rpd",
            "c_custkey BIGINT, c_nationkey BIGINT",
            drop_if_exists=True,
        )
        c = load(spark, sf, "customer").select(
            F.col("c_custkey").cast("bigint"),
            F.col("c_nationkey").cast("bigint"),
        )
        t.append(c.coalesce(1))
        t.delete_where_positional("c_custkey <= 10")
        t.delete_where_positional("c_nationkey = 5")
        t.delete_where_positional("c_custkey % 100 = 7")
        t._b169_before = t.current_version()
        t.rewrite_position_delete_files()
        return t

    t = _built(spark, sf, "b169", build)

    def rollup(version: int, phase: str) -> DataFrame:
        snap = t.snapshot(version)
        pos_paths = [
            _json.loads(d["entry"])["path"]
            for d in snap["delete_files"]
            if _json.loads(d["entry"]).get("pos")
        ]
        masked = spark.read.schema(POS_DELETE_DDL).parquet(*pos_paths)
        return (
            t.read(version=version)
            .agg(
                F.count("*").cast("bigint").alias("visible_rows"),
                F.sum("c_custkey").cast("bigint").alias("sum_k"),
            )
            .crossJoin(
                F.broadcast(
                    masked.agg(
                        F.count("*").cast("bigint").alias("masked_rows")
                    )
                )
            )
            .select(
                F.lit(phase).alias("phase"),
                F.lit(len(pos_paths)).cast("bigint").alias("n_pos_files"),
                "masked_rows",
                "visible_rows",
                "sum_k",
            )
        )

    before = rollup(t._b169_before, "before")
    after = rollup(t.current_version(), "after")
    return before.unionByName(after).orderBy(F.col("phase").desc())


# ---------------------------------------------------------------------------
# c90 — integer-ln kernel self-check (the cross-libm fix, graded)
# ---------------------------------------------------------------------------

_C90_N = 512  # synthetic magnitude grid rows (full 47-bit spread)
_C90_GRID = (
    "((x * 2654435761 % 140737488355328) * 524288 + x)"
    " % 140737488355328 + 1"
)
_C90_GRID2 = (
    "((x * 2246822519 % 140737488355328) * 524288 + 3 * x)"
    " % 140737488355328 + 1"
)

_C90_ORACLE = f"""
WITH syn AS (
  SELECT x AS case_id,
         CAST({_C90_GRID} AS BIGINT) AS num,
         CAST({_C90_GRID2} AS BIGINT) AS den
  FROM range({_C90_N}) r(x)),
tot AS (SELECT count(*) AS n FROM documents),
src AS (
  SELECT {_C90_N} + row_number() OVER (ORDER BY source) AS case_id,
         CAST(count(*) AS BIGINT) AS num,
         CAST((SELECT n FROM tot) AS BIGINT) AS den
  FROM documents GROUP BY source),
nllin AS MATERIALIZED (
  SELECT case_id, num, den FROM syn
  UNION ALL SELECT case_id, num, den FROM src),
{{chain}}
SELECT case_id, num, den, nll_micro FROM _il_fin ORDER BY case_id
"""


@query(
    "c90_integer_ln_selfcheck",
    oracle=_C90_ORACLE.format(
        chain=int_ln_micro_cte_sql("nllin", "case_id", "nll_micro")
    ),
)
def c90_integer_ln_selfcheck(spark: SparkSession, sf: str) -> DataFrame:
    """C90: the INTEGER-LN KERNEL SELF-CHECK — the p46 pattern (prove
    the measuring instrument, then trust its readings) applied to the
    cross-libm fix (ADVICE r12): every micro-nat NLL column the repo
    grades (c65 add-one, c84 Kneser-Ney) now evaluates ln through ONE
    fixed-point integer algorithm (_util.int_ln_micro_*), and this op
    hash-grades that kernel ITSELF, end to end, at driver time: a
    512-case synthetic (num, den) grid spanning the full 47-bit input
    domain (both p < 1 and p > 1 branches, the num = den zero, and
    the 2^47 extremes), plus one live case per document source (the
    surprisal of its corpus share — data the two engines must agree
    on BEFORE the kernel even runs). A single bit differing anywhere
    in either engine's 27-step chain — one CASE branch, one truncating
    division, one ln2 constant — flips a hash cell.

    Scale shape: the kernel is a pure per-row integer map (27 chained
    +/*/DIV/CASE steps, no join, no window over data rows); the live
    arm is one |sources|-key count aggregate — the corpus total is the
    SUM of those counts via an empty window over the |sources|-row
    grouped frame, so the corpus is scanned exactly once and nothing
    is collected at construction (ADVICE r13: the previous d.count()
    here was the '.count() at construction' anti-pattern — one extra
    corpus pass per graded run)."""
    from iceberg_playground_spark.queries._util import (
        int_ln_micro_col,
        load,
    )

    syn = spark.range(_C90_N).select(
        F.col("id").alias("case_id"),
        F.expr(_C90_GRID.replace("x", "id")).cast("bigint").alias("num"),
        F.expr(_C90_GRID2.replace("x", "id")).cast("bigint").alias("den"),
    )
    d = load(spark, sf, "documents")
    src = (
        d.groupBy("source")
        .agg(F.count("*").cast("bigint").alias("num"))
        .select(
            (
                F.lit(_C90_N)
                + F.row_number().over(W.orderBy("source"))
            )
            .cast("bigint")
            .alias("case_id"),
            "num",
            F.sum("num").over(W.partitionBy()).cast("bigint").alias("den"),
        )
    )
    allc = syn.unionByName(src)
    return int_ln_micro_col(allc, "num", "den", "nll_micro").orderBy(
        "case_id"
    )


# ---------------------------------------------------------------------------
# c91 — graph ANN: blocked kNN graph + deterministic beam search
# ---------------------------------------------------------------------------

_C91_M = 6  # out-degree of the kNN graph
_C91_B = 4  # beam width
_C91_H = 3  # search hops
_C91_K = 10  # returned neighbors
_C91_SCALE = 1000  # c54's fixed-point contract
_C91_DIM = 64
_C91_ENTRY = 1  # fixed entry node (hub-reachable; never the query)


def _c91_search_ctes() -> str:
    """The H-hop beam search as chained MATERIALIZED CTEs (DuckDB):
    v{h} = visited set after hop h as (vec_id, d); each hop expands
    the beam (top-B of visited) through the edge list and scores the
    new candidates against the precomputed node->query distances."""
    ctes = [
        f"v0 AS (SELECT vec_id, d FROM dq WHERE vec_id = {_C91_ENTRY})"
    ]
    for h in range(1, _C91_H + 1):
        ctes.append(
            f"f{h} AS (SELECT vec_id FROM v{h - 1} "
            f"ORDER BY d, vec_id LIMIT {_C91_B})"
        )
        ctes.append(
            f"c{h} AS (SELECT DISTINCT e.dst AS vec_id "
            f"FROM f{h} JOIN alledges e ON e.src = f{h}.vec_id)"
        )
        ctes.append(
            f"v{h} AS MATERIALIZED (SELECT vec_id, d FROM v{h - 1} "
            f"UNION SELECT c{h}.vec_id, dq.d "
            f"FROM c{h} JOIN dq USING (vec_id))"
        )
    return ", ".join(ctes)


# The graph-construction CTE block (quantized grid -> per-label pair
# distances -> top-M adjacency -> hub ring -> merged edge list),
# shared verbatim by c91's search and c92's recall audit.
_C91_GRAPH_CTES = f"""g AS MATERIALIZED (
  SELECT vec_id, label, i,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * {_C91_SCALE})
              AS BIGINT) AS qi
  FROM embeddings, UNNEST(range(1, {_C91_DIM} + 1)) AS u(i)),
pd AS MATERIALIZED (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         sum((a.qi - b.qi) * (a.qi - b.qi)) AS d
  FROM g a JOIN g b ON a.label = b.label AND a.i = b.i
                   AND a.vec_id <> b.vec_id
  GROUP BY src, dst),
adj AS MATERIALIZED (
  SELECT src, dst FROM pd
  QUALIFY row_number() OVER (PARTITION BY src ORDER BY d, dst)
          <= {_C91_M}),
hubs AS (SELECT label, min(vec_id) AS hub FROM embeddings
         GROUP BY label),
hedges AS (SELECT h1.hub AS src, h2.hub AS dst
           FROM hubs h1, hubs h2 WHERE h1.hub <> h2.hub),
alledges AS MATERIALIZED (
  SELECT src, dst FROM adj UNION SELECT src, dst FROM hedges)"""

_C91_ORACLE = f"""
WITH {_C91_GRAPH_CTES},
qv AS (SELECT i, qi FROM g WHERE vec_id = 0),
dq AS MATERIALIZED (
  SELECT g.vec_id, sum((g.qi - qv.qi) * (g.qi - qv.qi)) AS d
  FROM g JOIN qv ON g.i = qv.i GROUP BY g.vec_id),
{_c91_search_ctes()}
SELECT CAST(row_number() OVER (ORDER BY d, vec_id) AS INT) AS rank,
       CAST(vec_id AS BIGINT) AS vec_id, CAST(d AS BIGINT) AS sq_dist
FROM v{_C91_H} WHERE vec_id <> 0
ORDER BY d, vec_id LIMIT {_C91_K}
"""


def _c91_sqd(a, b):
    """Exact integer squared L2 between two quantized arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def _c91_edges(q: DataFrame, m: int) -> DataFrame:
    """Blocked edge list over a quantized node frame: per-label top-m
    adjacency (exact BIGINT distances, ties by vec_id) + the
    fully-connected per-label hub ring — shared by c91/c92's base
    layer and c95's sparse upper layer (which passes its own node
    subset and a smaller m)."""
    a = q.select(
        "label", F.col("vec_id").alias("src"), F.col("qv").alias("sv")
    )
    b = q.select(
        "label", F.col("vec_id").alias("dst"), F.col("qv").alias("dv")
    )
    pairs = a.join(b, "label").filter(F.col("src") != F.col("dst"))
    ranked = pairs.select(
        "src", "dst", _c91_sqd(F.col("sv"), F.col("dv")).alias("d")
    ).withColumn(
        "rn",
        F.row_number().over(W.partitionBy("src").orderBy("d", "dst")),
    )
    adj = ranked.filter(F.col("rn") <= m).select("src", "dst")
    hubs = q.groupBy("label").agg(F.min("vec_id").alias("hub"))
    h1 = hubs.select(F.col("hub").alias("src"))
    h2 = hubs.select(F.col("hub").alias("dst"))
    hedges = h1.crossJoin(F.broadcast(h2)).filter(
        F.col("src") != F.col("dst")
    )  # |labels|² = 100 rows, bounded by design
    return adj.unionByName(hedges).distinct().localCheckpoint(eager=False)


def _c91_graph(spark: SparkSession, sf: str):
    """Shared Spark graph build (c91 search + c92 recall audit + c95's
    base layer): returns (q, alledges), both lazily checkpointed — q
    is the quantized vector table (vec_id, label, qv), alledges the
    merged per-label top-M + hub-ring edge list (src, dst)."""
    from iceberg_playground_spark.queries._util import load

    e = load(spark, sf, "embeddings")
    q = (
        e.select(
            F.col("vec_id").cast("bigint").alias("vec_id"),
            "label",
            F.transform(
                "embedding",
                lambda x: F.floor(x.cast("double") * _C91_SCALE).cast(
                    "bigint"
                ),
            ).alias("qv"),
        )
        # hash-repartition before the pair work (c31's rule, round 17):
        # the label join broadcasts its other side, so the Σ|block|²
        # distance folds inherit the SCAN's partitioning — one parquet
        # file = one input split = the whole pair job on one core
        # (measured 5.7 s -> 0.9 s at sf0.1 on 32 cores). Width derives
        # from the env'd core count, never a local[32] constant.
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
        .localCheckpoint(eager=False)  # consumed by pairs (x2) + scoring
    )
    return q, _c91_edges(q, _C91_M)


@query("c91_knn_graph_search", oracle=_C91_ORACLE)
def c91_knn_graph_search(spark: SparkSession, sf: str) -> DataFrame:
    """C91: GRAPH ANN — a navigable-small-world-style search
    (Malkov & Yashunin's HNSW, flattened to the single-layer NSW
    case that admits a DETERMINISTIC, hash-gradeable construction)
    opening the graph arm of the ANN family next to the trained
    IVF/PQ arm (c70-c77): most production vector stores ship an
    HNSW-class graph index, and VERDICT r12 item 8 named it the one
    genuinely open ANN arc.

    Construction (deterministic by design, no insertion order, no
    randomness): vectors quantize to the integer grid once (c54's
    fixed-point contract — every distance an exact BIGINT); the edge
    list is each node's {_C91_M} nearest WITHIN ITS LABEL BLOCK
    (exact, ties by vec_id), plus a fully-connected hub ring (each
    block's min vec_id) that keeps the graph navigable ACROSS blocks
    — the blocked analogue of NSW long-range links. Search is
    best-first beam: start at the fixed entry node, each hop expands
    the current top-{_C91_B} visited through the edge list and scores
    only the NEW candidates against the query (vec 0's embedding,
    a 64-int literal), {_C91_H} hops, then the top-{_C91_K} visited
    is the answer. Every tie anywhere breaks on vec_id, so one graded
    run pins construction AND traversal bit-for-bit.

    Scale shape: graph build is Σ|block|² pair work inside label
    blocks (the c48/c66 cluster-blocked discipline — NEVER an
    all-pairs across the corpus; pinned never-cartesian except the
    10x10 hub ring, a bounded broadcast; co-locating vectors by block
    is build-time's one legitimate vector shuffle, paid once) + one
    |edges| ranking window; the SEARCH is driver-coordinated (round
    17): per hop, one {_C91_B}-id filter of the checkpointed edge
    list and one ≤ {_C91_B}*({_C91_M}+|labels|)-id filtered scoring
    scan of the vector table — both bounded collects of the c63
    argmax class (O(beam*degree) rows per hop, never corpus-sized; on
    a vec_id-bucketed lake layout, b60's discipline, each is a pruned
    few-file read), and vectors never shuffle at query time. The
    round-16 shape instead unioned lazy frames per hop, which doubled
    the visited lineage per hop: the final plan re-evaluated ~2^hops
    copies of every hop's joins (889 plan lines, 56 exchanges, 50
    RDD re-scans at H=3) — pure plan-size cost that the bounded
    driver state removes (measured 6.9 -> 2.8 s at sf0.1, identical
    rows). At 100 TB the graph is built once (the expensive,
    embarrassingly-blocked part) and each query pays hops*beam
    bounded lookups — HNSW's actual economics."""
    q, alledges = _c91_graph(spark, sf)
    qvec = q.filter(F.col("vec_id") == 0).select("qv").first()["qv"]
    qlit = lit_bigint_array(qvec)

    def score(ids: list) -> list:
        # one pruned scan of the checkpointed vector table per hop:
        # ≤ beam*(M+|labels|) ids, exact BIGINT distances to the query
        return (
            q.filter(F.col("vec_id").isin(ids))
            .select("vec_id", _c91_sqd(F.col("qv"), qlit).alias("d"))
            .collect()
        )

    visited: dict = {}  # vec_id -> exact sq dist; ≤ 1 + H*B*(M+|labels|) entries
    for r in score([_C91_ENTRY]):
        visited[r["vec_id"]] = r["d"]
    for _ in range(_C91_H):
        # the beam is the top-B visited, ties on vec_id — the same
        # (d, vec_id) order the round-16 orderBy().limit(B) used
        beam = sorted(visited, key=lambda v: (visited[v], v))[:_C91_B]
        cand = {
            r["dst"]
            for r in alledges.filter(F.col("src").isin(beam))
            .select("dst")
            .distinct()
            .collect()
        }
        new = sorted(cand - visited.keys())
        if new:
            for r in score(new):
                visited[r["vec_id"]] = r["d"]
    top = sorted((d, v) for v, d in visited.items() if v != 0)[:_C91_K]
    return spark.createDataFrame(
        [(i + 1, v, d) for i, (d, v) in enumerate(top)],
        "rank INT, vec_id BIGINT, sq_dist BIGINT",
    )


# ---------------------------------------------------------------------------
# c92 — graph-ANN recall audit (c72's pattern for the graph arm)
# ---------------------------------------------------------------------------

_C92_PROBES = 5  # vec_ids 0..4, c04's probe convention


def _c92_search_ctes() -> str:
    """The multi-probe beam search as chained MATERIALIZED CTEs:
    v{h} carries (probe_id, vec_id, d); the beam is top-B PER PROBE."""
    ctes = [
        f"v0 AS (SELECT probe_id, vec_id, d FROM dqall "
        f"WHERE vec_id = {_C91_ENTRY})"
    ]
    for h in range(1, _C91_H + 1):
        ctes.append(
            f"f{h} AS (SELECT probe_id, vec_id FROM v{h - 1} "
            f"QUALIFY row_number() OVER (PARTITION BY probe_id "
            f"ORDER BY d, vec_id) <= {_C91_B})"
        )
        ctes.append(
            f"c{h} AS (SELECT DISTINCT f.probe_id, e.dst AS vec_id "
            f"FROM f{h} f JOIN alledges e ON e.src = f.vec_id)"
        )
        ctes.append(
            f"v{h} AS MATERIALIZED (SELECT probe_id, vec_id, d "
            f"FROM v{h - 1} "
            f"UNION SELECT c.probe_id, c.vec_id, dq.d "
            f"FROM c{h} c JOIN dqall dq "
            f"ON dq.probe_id = c.probe_id AND dq.vec_id = c.vec_id)"
        )
    return ", ".join(ctes)


_C92_ORACLE = f"""
WITH {_C91_GRAPH_CTES},
pg AS (SELECT vec_id AS probe_id, i, qi FROM g
       WHERE vec_id < {_C92_PROBES}),
dqall AS MATERIALIZED (
  SELECT pg.probe_id, g.vec_id,
         sum((g.qi - pg.qi) * (g.qi - pg.qi)) AS d
  FROM g JOIN pg ON g.i = pg.i GROUP BY pg.probe_id, g.vec_id),
exact AS (
  SELECT probe_id, vec_id FROM dqall WHERE vec_id <> probe_id
  QUALIFY row_number() OVER (PARTITION BY probe_id ORDER BY d, vec_id)
          <= {_C91_K}),
{_c92_search_ctes()},
gtop AS (
  SELECT probe_id, vec_id FROM v{_C91_H} WHERE vec_id <> probe_id
  QUALIFY row_number() OVER (PARTITION BY probe_id ORDER BY d, vec_id)
          <= {_C91_K}),
nv AS (SELECT probe_id, count(*) AS n_visited FROM v{_C91_H}
       GROUP BY probe_id),
fd AS (SELECT g2.probe_id, count(*) AS n_found
       FROM gtop g2 JOIN exact e USING (probe_id, vec_id)
       GROUP BY g2.probe_id)
SELECT CAST(nv.probe_id AS BIGINT) AS probe_id,
       CAST(nv.n_visited AS BIGINT) AS n_visited,
       CAST(coalesce(fd.n_found, 0) AS BIGINT) AS n_found,
       CAST(coalesce(fd.n_found, 0) * 1000000 // {_C91_K} AS BIGINT)
         AS recall_micro
FROM nv LEFT JOIN fd USING (probe_id) ORDER BY probe_id
"""


@query("c92_graph_ann_recall", oracle=_C92_ORACLE)
def c92_graph_ann_recall(spark: SparkSession, sf: str) -> DataFrame:
    """C92: GRAPH-ANN RECALL AUDIT — the measurement that decides
    whether c91's graph index ships, completing the arc under the
    house rule that every deployed ANN variant carries its own recall
    evaluation (c45 for sign-LSH, c72 for learned IVF, c81 for the
    PCA prefilter — and now the graph arm): run the SAME beam search
    (shared `_c91_graph` build, identical M/B/H constants) for
    {_C92_PROBES} probe vectors AT ONCE — the search state carries
    (probe_id, vec_id, d) and the beam is a top-{_C91_B} window PER
    PROBE, so one pass of hop joins advances every probe — and grade,
    per probe: nodes visited (the cost), exact top-{_C91_K} hits
    found (the quality), recall in exact integer micro. The exact
    arm reuses the same all-probe distance table the search scores
    from — the eval arm's sanctioned brute pass (c72's shape), which
    is precisely what makes recall computable at all.

    Scale shape: the probe-distance table is ONE corpus pass against
    a broadcast {_C92_PROBES}-row probe set (c04's brute contract,
    sanctioned to ~10^4 probes); the graph build is c91's blocked
    Σ|block|² (shared, built once); each hop then touches
    probes x beam x {_C91_M} edge rows and scores new candidates via
    a broadcast (probe, id) semi-join — the multi-probe search costs
    probes x the single-probe search, never probes x corpus beyond
    the one sanctioned exact arm."""
    q, alledges = _c91_graph(spark, sf)
    probes = q.filter(F.col("vec_id") < _C92_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("qv").alias("pv")
    )
    dqall = (
        q.crossJoin(F.broadcast(probes))
        .select(
            "probe_id",
            "vec_id",
            _c91_sqd(F.col("qv"), F.col("pv")).alias("d"),
        )
        .localCheckpoint(eager=False)  # scored once, read by every arm
    )
    exact = (
        dqall.filter(F.col("vec_id") != F.col("probe_id"))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("probe_id").orderBy("d", "vec_id")
            ),
        )
        .filter(F.col("rn") <= _C91_K)
        .select("probe_id", "vec_id")
    )
    visited = dqall.filter(F.col("vec_id") == _C91_ENTRY)
    for _ in range(_C91_H):
        beam = (
            visited.withColumn(
                "rn",
                F.row_number().over(
                    W.partitionBy("probe_id").orderBy("d", "vec_id")
                ),
            )
            .filter(F.col("rn") <= _C91_B)
            .select("probe_id", "vec_id")
        )
        cand = (
            beam.join(alledges, beam["vec_id"] == alledges["src"])
            .select("probe_id", F.col("dst").alias("vec_id"))
            .distinct()
        )
        scored = dqall.join(F.broadcast(cand), ["probe_id", "vec_id"])
        visited = visited.unionByName(scored).distinct()
    gtop = (
        visited.filter(F.col("vec_id") != F.col("probe_id"))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("probe_id").orderBy("d", "vec_id")
            ),
        )
        .filter(F.col("rn") <= _C91_K)
        .select("probe_id", "vec_id")
    )
    nv = visited.groupBy("probe_id").agg(
        F.count("*").cast("bigint").alias("n_visited")
    )
    fd = (
        gtop.join(exact, ["probe_id", "vec_id"])
        .groupBy("probe_id")
        .agg(F.count("*").alias("n_found"))
    )
    return (
        nv.join(fd, "probe_id", "left")
        .select(
            F.col("probe_id").cast("bigint").alias("probe_id"),
            "n_visited",
            F.coalesce("n_found", F.lit(0)).cast("bigint").alias("n_found"),
            F.expr(
                f"coalesce(n_found, 0) * 1000000 DIV {_C91_K}"
            ).cast("bigint").alias("recall_micro"),
        )
        .orderBy("probe_id")
    )


# ---------------------------------------------------------------------------
# c93 — vector-index maintenance via MERGE (c39's shape for vectors)
# ---------------------------------------------------------------------------

_C93_K = 16  # coarse cells (c38/c40's md5-seed convention)
_C93_SCALE = 1000


def _c93_quantize(df: DataFrame) -> DataFrame:
    """Integer-grid view of a vector frame (c54's fixed-point
    contract), shared by c93's batch MERGE and p49's streaming twin."""
    return df.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * _C93_SCALE).cast(
                "bigint"
            ),
        ).alias("qv"),
    )


def _c93_centroids(spark: SparkSession, e: DataFrame) -> DataFrame:
    """Frozen centroids: md5-order seeds of the ORIGINAL corpus,
    quantized — a bounded K x dim collect (c38's convention), returned
    as a K-row literal frame both c93 and p49 broadcast."""
    seeds = (
        _c93_quantize(e)
        .withColumn(
            "j",
            F.row_number().over(
                W.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
            )
            - 1,
        )
        .filter(F.col("j") < _C93_K)
        .select("j", "qv")
    )
    return spark.createDataFrame(
        [(int(r["j"]), list(r["qv"])) for r in seeds.collect()],
        "j INT, cv ARRAY<BIGINT>",
    )


def _c93_assign(vecs: DataFrame, cent: DataFrame) -> DataFrame:
    """Nearest-centroid cell per vector: broadcast K-row table, exact
    BIGINT argmin, ties by j."""
    d2 = vecs.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "j",
        _c91_sqd(F.col("qv"), F.col("cv")).alias("d2"),
    )
    return d2.groupBy("vec_id").agg(
        F.min(F.struct("d2", "j"))["j"].cast("int").alias("cell")
    )


def _c93_oracle() -> str:
    from iceberg_playground_spark.queries._util import bucket_sql

    bkt = bucket_sql("vec_id")
    qz = (
        f"list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE)"
        f" * {_C93_SCALE}) AS BIGINT))"
    )
    fold = (
        "list_reduce(list_transform(range(1, 65), "
        "i -> (q.qv[i] - s.cv[i]) * (q.qv[i] - s.cv[i])), "
        "(x, y) -> x + y)"
    )
    return f"""
    WITH final_vecs AS (
      SELECT vec_id,
             CASE WHEN {bkt} < 80 AND vec_id % 25 = 0
                  THEN list_transform(embedding, v -> -v)
                  ELSE embedding END AS embedding
      FROM embeddings),
    seeds AS (
      SELECT row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS j,
             {qz} AS cv
      FROM embeddings QUALIFY j < {_C93_K}),
    qz AS (SELECT vec_id, {qz} AS qv FROM final_vecs),
    d2 AS (SELECT q.vec_id, s.j, {fold} AS d2
           FROM qz q CROSS JOIN seeds s),
    asg AS (SELECT vec_id, (min({{'d2': d2, 'j': j}})).j AS cell
            FROM d2 GROUP BY vec_id)
    SELECT CAST(cell AS INT) AS cell,
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(min(vec_id) AS BIGINT) AS min_vec_id,
           CAST(max(vec_id) AS BIGINT) AS max_vec_id,
           CAST(sum(vec_id) AS BIGINT) AS sum_vec_id
    FROM asg GROUP BY cell ORDER BY cell
    """


@query("c93_vector_index_merge", oracle=_c93_oracle())
def c93_vector_index_merge(spark: SparkSession, sf: str) -> DataFrame:
    """C93: VECTOR-INDEX MAINTENANCE via MERGE — c39's operational
    loop applied to the ANN stack (VERDICT r12 item 8's third open
    arc): the (vec_id, cell) IVF assignment table is itself a LAKE
    TABLE kept current by MERGE, never rebuilt. Centroids are FROZEN
    at index creation (the md5-seed convention of c38/c40, quantized
    to the integer grid — exactly what production IVF indexes do:
    retrain rarely, reassign continuously; c71 is the drift audit
    that says when to retrain). v1 seeds assignments for the base
    corpus; an ingestion batch arrives carrying NEW vectors AND
    RE-EMBEDDED vectors (every 25th base vector re-encoded — sign-
    flipped, the deterministic stand-in for "the upstream embedding
    model changed this doc"), and one MERGE (equality on vec_id)
    lands it: stale assignments equality-delete and replace, new
    vectors insert, untouched rows never rewrite. Graded on the
    per-cell rollup of the MAINTAINED index (count, min/max/sum of
    ids) against the oracle's FROM-SCRATCH recompute over the final
    corpus — hash-matching proves incremental maintenance ≡ full
    rebuild, the property that lets a 100 TB index never re-read its
    corpus.

    Scale shape: assignment is a broadcast {_C93_K}-row centroid
    table against each batch (exact BIGINT argmin, ties by j — one
    pass over the BATCH only); the MERGE shuffles |batch| index rows
    (8 B each) against manifest metadata; the corpus is signed once
    per arrival and the index is the only thing that ever rewrites."""
    from iceberg_playground_spark.queries._util import hash_bucket, load
    from iceberg_playground_spark.queries.lakehouse import _built
    from iceberg_playground_spark.tables import LakeCatalog

    quantize = _c93_quantize

    def build(tmp: str):
        cat = LakeCatalog(spark, tmp)
        idx = cat.create_table(
            "demo",
            "vec_index",
            "vec_id BIGINT, cell INT",
            drop_if_exists=True,
        )
        e = load(spark, sf, "embeddings")
        cent = _c93_centroids(spark, e)

        def assign(vecs: DataFrame) -> DataFrame:
            return _c93_assign(vecs, cent)

        bucket = hash_bucket(F.col("vec_id"))
        base = e.filter(bucket < 80)
        idx.append(assign(quantize(base)))  # v1: seeded index
        edited = base.filter(F.col("vec_id") % 25 == 0).withColumn(
            "embedding", F.transform("embedding", lambda x: -x)
        )
        batch = e.filter(bucket >= 80).unionByName(edited)
        # one MERGE: re-embedded vectors' stale assignments masked +
        # replaced, new vectors inserted — the index never rebuilds
        idx.merge(assign(quantize(batch)), equality_cols=["vec_id"])
        return idx

    idx = _built(spark, sf, "c93", build)
    return (
        idx.read()
        .groupBy("cell")
        .agg(
            F.count("*").cast("bigint").alias("n_vectors"),
            F.min("vec_id").cast("bigint").alias("min_vec_id"),
            F.max("vec_id").cast("bigint").alias("max_vec_id"),
            F.sum("vec_id").cast("bigint").alias("sum_vec_id"),
        )
        .orderBy("cell")
    )


# ---------------------------------------------------------------------------
# c94 — cross-encoder-style re-rank over c78's fused list
# ---------------------------------------------------------------------------

_C94_SHORT = 10  # the c78 list depth the re-ranker scores
_C94_PROXK = 10  # proximity smoothing constant (1e6 // (K + first_pos))


def _c94_oracle() -> str:
    from iceberg_playground_spark.queries.round12 import (
        _C78_TOPK,
        _c78_ctes,
    )

    assert _C94_SHORT == _C78_TOPK  # the re-ranker scores c78's list
    return f"""
WITH {_c78_ctes()},
short AS MATERIALIZED (
  SELECT doc_id, rrf_micro,
         row_number() OVER (ORDER BY rrf_micro DESC, doc_id)
           AS rank_rrf
  FROM fused ORDER BY rrf_micro DESC, doc_id LIMIT {_C94_SHORT}),
qt AS MATERIALIZED (
  SELECT DISTINCT t FROM (
    SELECT unnest(string_split(text, ' ')) AS t
    FROM documents WHERE doc_id = 0)
  WHERE t <> ''),
qn AS (SELECT count(*) AS nq FROM qt),
dtok AS MATERIALIZED (
  SELECT s.doc_id, u.i AS pos, d.toks[i] AS t
  FROM short s
  JOIN (SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents) d USING (doc_id),
       UNNEST(range(1, len(d.toks) + 1)) AS u(i)),
hits AS (
  SELECT dtok.doc_id, dtok.t, min(pos) AS fp
  FROM dtok JOIN qt USING (t) GROUP BY dtok.doc_id, dtok.t),
feats AS (
  SELECT doc_id, count(*) AS shared_terms, min(fp) AS first_pos
  FROM hits GROUP BY doc_id),
scored AS (
  SELECT s.doc_id, s.rrf_micro, s.rank_rrf,
         CAST(coalesce(f.shared_terms, 0) AS BIGINT) AS shared_terms,
         CAST(coalesce(f.shared_terms, 0) * 1000000
              // (SELECT nq FROM qn)
              + coalesce(1000000 // ({_C94_PROXK} + f.first_pos), 0)
           AS BIGINT) AS ce_micro
  FROM short s LEFT JOIN feats f USING (doc_id))
SELECT CAST(row_number() OVER (
         ORDER BY ce_micro DESC, rrf_micro DESC, doc_id) AS INT)
         AS rank_ce,
       CAST(doc_id AS BIGINT) AS doc_id, ce_micro, shared_terms,
       CAST(rrf_micro AS BIGINT) AS rrf_micro,
       CAST(rank_rrf AS BIGINT) AS rank_rrf
FROM scored ORDER BY rank_ce
"""


@query("c94_cross_encoder_rerank", oracle=_c94_oracle())
def c94_cross_encoder_rerank(spark: SparkSession, sf: str) -> DataFrame:
    """C94: CROSS-ENCODER-STYLE RE-RANK over c78's fused list — the
    second stage every production retrieval stack runs after hybrid
    fusion (retrieve cheaply with bi-encoder + lexical indexes, then
    pay an expensive PAIRWISE query-document scorer on the shortlist
    only), closing the retrieval pipeline VERDICT r12 item 8 sketched
    (c78 retrieves, c87 diversifies, c94 re-scores). The neural
    cross-encoder is stood in for by a DETERMINISTIC integer
    interaction scorer over the (query text, doc text) PAIR — the
    Spark-side economics (full text of query and candidate meet
    per pair, exactly the cross-encoder data flow) are real even
    though the model is a stub, the same contract as c15's fake
    codec: ce = query-coverage (shared distinct terms / query
    vocabulary, in micro) + early-match proximity (1e6 //
    ({_C94_PROXK} + first matching position)); re-rank by ce, ties
    by the incoming RRF score then doc_id. Graded on the full
    re-ranked list with both ranks and the interaction features, so
    a single position/tie-break/tokenization drift anywhere flips
    the hash. Query = doc 0's text (the convention of c03/c78's
    vector-0 self-query, applied to the lexical side).

    Scale shape: the re-ranker touches exactly {_C94_SHORT} documents
    — the shortlist semi-joins the documents table (broadcast ids,
    one pruned scan), positions come from ONE posexplode of those
    {_C94_SHORT} texts, and the query vocabulary is one bounded
    collect of doc 0's distinct tokens; c78's own two-backend cost is
    unchanged upstream. At 100 TB the re-rank cost is per-QUERY
    constant — which is the entire argument for the
    retrieve-then-rerank architecture."""
    from iceberg_playground_spark.queries._util import load
    from iceberg_playground_spark.queries.round12 import _c78_fused

    fused = _c78_fused(spark, sf)
    short = (
        fused.orderBy(F.desc("rrf_micro"), "doc_id")
        .limit(_C94_SHORT)
        .withColumn(
            "rank_rrf",
            F.row_number().over(W.orderBy(F.desc("rrf_micro"), "doc_id")),
        )
        .select("doc_id", "rrf_micro", "rank_rrf")
        .localCheckpoint(eager=False)  # joined + returned
    )
    d = load(spark, sf, "documents").select("doc_id", "text")
    qtoks = sorted(
        {
            t
            for t in d.filter(F.col("doc_id") == 0)
            .select("text")
            .first()["text"]
            .split(" ")
            if t != ""
        }
    )
    nq = len(qtoks)
    qt = spark.createDataFrame([(t,) for t in qtoks], "t STRING")
    dtok = (
        d.join(F.broadcast(short.select("doc_id")), "doc_id")
        .select(
            "doc_id", F.posexplode(F.split("text", " ")).alias("p0", "t")
        )
        .select("doc_id", (F.col("p0") + 1).alias("pos"), "t")
    )
    hits = (
        dtok.join(F.broadcast(qt), "t")
        .groupBy("doc_id", "t")
        .agg(F.min("pos").alias("fp"))
    )
    feats = hits.groupBy("doc_id").agg(
        F.count("*").alias("shared_terms"), F.min("fp").alias("first_pos")
    )
    scored = short.join(feats, "doc_id", "left").select(
        "doc_id",
        "rrf_micro",
        "rank_rrf",
        F.coalesce("shared_terms", F.lit(0))
        .cast("bigint")
        .alias("shared_terms"),
        (
            F.expr(f"coalesce(shared_terms, 0) * 1000000 DIV {nq}")
            + F.coalesce(
                F.expr(f"1000000 DIV ({_C94_PROXK} + first_pos)"),
                F.lit(0),
            )
        )
        .cast("bigint")
        .alias("ce_micro"),
    )
    return scored.select(
        F.row_number()
        .over(W.orderBy(F.desc("ce_micro"), F.desc("rrf_micro"), "doc_id"))
        .cast("int")
        .alias("rank_ce"),
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "ce_micro",
        "shared_terms",
        F.col("rrf_micro").cast("bigint").alias("rrf_micro"),
        F.col("rank_rrf").cast("bigint").alias("rank_rrf"),
    ).orderBy("rank_ce")


# ---------------------------------------------------------------------------
# p49 — streaming vector-index maintenance (c93's twin at ingest time)
# ---------------------------------------------------------------------------

_P49_EPOCHS = 4


def _p49_oracle() -> str:
    qz = (
        f"list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE)"
        f" * {_C93_SCALE}) AS BIGINT))"
    )
    qzn = (
        f"list_transform(embedding, v -> CAST(floor(CAST(-v AS DOUBLE)"
        f" * {_C93_SCALE}) AS BIGINT))"
    )
    fold = (
        "list_reduce(list_transform(range(1, 65), "
        "i -> (q.qv[i] - s.cv[i]) * (q.qv[i] - s.cv[i])), "
        "(x, y) -> x + y)"
    )
    return f"""
    WITH seeds AS (
      SELECT row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS j,
             {qz} AS cv
      FROM embeddings QUALIFY j < {_C93_K}),
    qzo AS (SELECT vec_id, {qz} AS qv FROM embeddings),
    qzn AS (SELECT vec_id, {qzn} AS qv FROM embeddings
            WHERE vec_id % 25 = 0),
    co AS MATERIALIZED (
      SELECT vec_id, (min({{'d2': {fold}, 'j': s.j}})).j AS cell
      FROM qzo q CROSS JOIN seeds s GROUP BY vec_id),
    cn AS MATERIALIZED (
      SELECT vec_id, (min({{'d2': {fold}, 'j': s.j}})).j AS cell
      FROM qzn q CROSS JOIN seeds s GROUP BY vec_id),
    nn AS (SELECT count(*) AS n FROM embeddings),
    q4 AS (SELECT vec_id,
                  (vec_id * {_P49_EPOCHS}) // (SELECT n FROM nn) AS q
           FROM embeddings),
    es AS (SELECT unnest(range(0, {_P49_EPOCHS})) AS e),
    news AS (SELECT es.e, count(q4.vec_id) AS n_new
             FROM es LEFT JOIN q4 ON q4.q = es.e GROUP BY es.e),
    reas AS (SELECT es.e, count(q4.vec_id) AS n_reassigned
             FROM es LEFT JOIN q4
               ON q4.vec_id % 25 = 0 AND q4.q < es.e
             GROUP BY es.e),
    sizes AS (SELECT es.e, count(q4.vec_id) AS index_size
              FROM es LEFT JOIN q4 ON q4.q <= es.e GROUP BY es.e),
    moved AS (SELECT q4.q + 1 AS e, count(*) AS n_moved
              FROM q4
              JOIN co ON co.vec_id = q4.vec_id
              JOIN cn ON cn.vec_id = q4.vec_id
              WHERE q4.vec_id % 25 = 0 AND co.cell <> cn.cell
                AND q4.q + 1 < {_P49_EPOCHS}
              GROUP BY q4.q + 1)
    SELECT CAST(n.e AS BIGINT) AS epoch,
           CAST(n.n_new + r.n_reassigned AS BIGINT) AS n_arrivals,
           CAST(n.n_new AS BIGINT) AS n_new,
           CAST(r.n_reassigned AS BIGINT) AS n_reassigned,
           CAST(coalesce(m.n_moved, 0) AS BIGINT) AS n_moved,
           CAST(s.index_size AS BIGINT) AS index_size
    FROM news n JOIN reas r USING (e) JOIN sizes s USING (e)
    LEFT JOIN moved m USING (e)
    ORDER BY epoch
    """


@query("p49_streaming_index_maintenance", oracle=_p49_oracle())
def p49_streaming_index_maintenance(
    spark: SparkSession, sf: str
) -> DataFrame:
    """P49: STREAMING VECTOR-INDEX MAINTENANCE — c93's MERGE loop
    moved to ingest time (p45 is the dedup twin; this is the ANN
    one, closing index-maintenance x streaming): embedding batches
    arrive as {E} doc-quartile micro-batches in mtime-pinned order
    (p36's ordering contract), each batch assigns against the FROZEN
    broadcast centroids (shared _c93_centroids/_c93_assign — the
    offline-trained-index-deployed-to-the-stream shape) and UPSERTS
    the accumulated (vec_id, cell) state; later batches carry
    RE-EMBEDDED vectors from earlier quartiles (every 25th,
    sign-flipped — the upstream-model-changed case), so whether an
    arrival is NEW vs a REASSIGNMENT, and whether a reassignment
    MOVED cells, depends on the accumulated state — the sequential
    semantics the per-epoch report grades: arrivals, new,
    reassigned, moved, cumulative index size. The oracle computes
    the same report in CLOSED FORM (frozen centroids make cell(v)
    and cell(-v) pure functions, so "moved at epoch q(v)+1, never
    after" is declarative) — the streaming state machine must land
    on it exactly.

    Scale shape: per-epoch work is one broadcast {_C93_K}-row
    centroid assignment over the BATCH + one |index| upsert
    (anti-join on the batch's ids and append); state is 8 bytes per
    indexed vector — c93's economics paid incrementally; at 100 TB
    each epoch pays |batch| assignment work, never |corpus|."""
    import os
    import shutil

    from iceberg_playground_spark.queries._util import load
    from iceberg_playground_spark.queries.lakehouse import _built
    from iceberg_playground_spark.queries.streaming import _scratch

    e = load(spark, sf, "embeddings").select("vec_id", "embedding")
    cent = _c93_centroids(spark, e)

    def build(tmp: str) -> str:
        src = os.path.join(tmp, "incoming")
        os.makedirs(src, exist_ok=True)
        now = int(os.stat(tmp).st_mtime)
        # the corpus count runs only when the staged fixture is
        # actually (re)built, never at query construction (c90's
        # no-action-outside-the-plan rule)
        n = e.count()
        q = F.expr(f"(vec_id * {_P49_EPOCHS}) DIV {n}")
        for i in range(_P49_EPOCHS):
            fresh = e.filter(q == i)
            edits = (
                e.filter((F.col("vec_id") % 25 == 0) & (q < i))
                .withColumn(
                    "embedding", F.transform("embedding", lambda x: -x)
                )
            )
            part_dir = os.path.join(tmp, f"stage_{i}")
            (
                fresh.unionByName(edits)
                .withColumn("epoch", F.lit(i).cast("bigint"))
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(part_dir)
            )
            part = next(
                f
                for f in os.listdir(part_dir)
                if f.endswith(".parquet") and f.startswith("part-")
            )
            dst = os.path.join(src, f"arrival_{i}.parquet")
            shutil.copyfile(os.path.join(part_dir, part), dst)
            os.utime(dst, (now + 10 * i, now + 10 * i))
        return src

    src = _built(spark, sf, "p49", build)
    stream = (
        spark.readStream.schema(
            "vec_id BIGINT, embedding ARRAY<FLOAT>, epoch BIGINT"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    work = _scratch("ips_stream_vidx_")
    report = os.path.join(work, "report")
    holder = {"state": None}
    try:

        def sink_batch(batch_df: DataFrame, epoch_id: int) -> None:
            if batch_df.isEmpty():
                # an empty staged file (possible at tiny SFs) carries
                # no epoch; min("epoch") would be NULL -> TypeError
                return
            ep = int(batch_df.agg(F.min("epoch")).first()[0])
            asg = _c93_assign(
                _c93_quantize(batch_df), cent
            ).localCheckpoint(eager=False)  # join + upsert + counts
            if holder["state"] is None:
                prev = spark.createDataFrame([], "vec_id BIGINT, cell INT")
            else:
                prev = spark.read.parquet(holder["state"])
            joined = asg.join(
                prev.withColumnRenamed("cell", "old_cell"),
                "vec_id",
                "left",
            ).localCheckpoint(eager=False)  # three counts, one probe
            n_arr = joined.count()
            n_re = joined.filter(F.col("old_cell").isNotNull()).count()
            n_moved = joined.filter(
                F.col("old_cell").isNotNull()
                & (F.col("old_cell") != F.col("cell"))
            ).count()
            new_state = prev.join(
                asg.select("vec_id"), "vec_id", "left_anti"
            ).unionByName(asg.select("vec_id", "cell"))
            newp = os.path.join(work, f"state_{ep}")
            new_state.write.parquet(newp)
            holder["state"] = newp
            size = spark.read.parquet(newp).count()
            spark.createDataFrame(
                [(ep, n_arr, n_arr - n_re, n_re, n_moved, size)],
                "epoch BIGINT, n_arrivals BIGINT, n_new BIGINT,"
                " n_reassigned BIGINT, n_moved BIGINT, index_size BIGINT",
            ).write.mode("append").parquet(report)

        q = (
            stream.writeStream.foreachBatch(sink_batch)
            .option("checkpointLocation", _scratch("ips_stream_vick_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # SIZE GUARD: |epochs| rows, collected because the scratch
        # dirs are deleted in finally (p18's literal-result rule)
        rows = sorted(
            tuple(int(x) for x in r)
            for r in spark.read.parquet(report).collect()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "epoch BIGINT, n_arrivals BIGINT, n_new BIGINT,"
        " n_reassigned BIGINT, n_moved BIGINT, index_size BIGINT",
    ).orderBy("epoch")


# ---------------------------------------------------------------------------
# c95 — hierarchical graph search (two-layer HNSW shape over c91)
# ---------------------------------------------------------------------------

_C95_LEVEL = 8  # every 8th node is promoted to the upper layer
_C95_MU = 4  # upper-layer out-degree
_C95_BU = 2  # upper-layer beam
_C95_HU = 2  # upper-layer hops
_C95_ENTRY_U = 8  # fixed upper-layer entry (first promoted non-query)


def _c95_chain(
    pfx: str, dq: str, edges: str, v0: str, beam: int, hops: int
) -> str:
    """A parameterized beam-search CTE chain: {pfx}v0 seeded by the
    ``v0`` subquery, expanding through ``edges`` and scoring against
    ``dq``, {hops} hops at width {beam}."""
    ctes = [f"{pfx}v0 AS ({v0})"]
    for h in range(1, hops + 1):
        ctes.append(
            f"{pfx}f{h} AS (SELECT vec_id FROM {pfx}v{h - 1} "
            f"ORDER BY d, vec_id LIMIT {beam})"
        )
        ctes.append(
            f"{pfx}c{h} AS (SELECT DISTINCT e.dst AS vec_id "
            f"FROM {pfx}f{h} f JOIN {edges} e ON e.src = f.vec_id)"
        )
        ctes.append(
            f"{pfx}v{h} AS MATERIALIZED (SELECT vec_id, d "
            f"FROM {pfx}v{h - 1} "
            f"UNION SELECT c.vec_id, dq.d "
            f"FROM {pfx}c{h} c JOIN {dq} dq USING (vec_id))"
        )
    return ", ".join(ctes)


_C95_ORACLE = f"""
WITH {_C91_GRAPH_CTES},
gu AS (SELECT * FROM g WHERE vec_id % {_C95_LEVEL} = 0),
pdu AS MATERIALIZED (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         sum((a.qi - b.qi) * (a.qi - b.qi)) AS d
  FROM gu a JOIN gu b ON a.label = b.label AND a.i = b.i
                     AND a.vec_id <> b.vec_id
  GROUP BY src, dst),
adju AS MATERIALIZED (
  SELECT src, dst FROM pdu
  QUALIFY row_number() OVER (PARTITION BY src ORDER BY d, dst)
          <= {_C95_MU}),
hubsu AS (SELECT label, min(vec_id) AS hub FROM embeddings
          WHERE vec_id % {_C95_LEVEL} = 0 GROUP BY label),
hedgesu AS (SELECT h1.hub AS src, h2.hub AS dst
            FROM hubsu h1, hubsu h2 WHERE h1.hub <> h2.hub),
edgesu AS MATERIALIZED (
  SELECT src, dst FROM adju UNION SELECT src, dst FROM hedgesu),
qv AS (SELECT i, qi FROM g WHERE vec_id = 0),
dq AS MATERIALIZED (
  SELECT g.vec_id, sum((g.qi - qv.qi) * (g.qi - qv.qi)) AS d
  FROM g JOIN qv ON g.i = qv.i GROUP BY g.vec_id),
{_c95_chain(
    "u", "dq", "edgesu",
    f"SELECT vec_id, d FROM dq WHERE vec_id = {_C95_ENTRY_U}",
    _C95_BU, _C95_HU,
)},
el AS (SELECT vec_id FROM uv{_C95_HU} ORDER BY d, vec_id LIMIT 1),
{_c95_chain(
    "l", "dq", "alledges",
    "SELECT vec_id, d FROM dq "
    "WHERE vec_id IN (SELECT vec_id FROM el)",
    _C91_B, _C91_H,
)}
SELECT CAST(row_number() OVER (ORDER BY d, vec_id) AS INT) AS rank,
       CAST(vec_id AS BIGINT) AS vec_id, CAST(d AS BIGINT) AS sq_dist,
       CAST((SELECT vec_id FROM el) AS BIGINT) AS entry_id
FROM lv{_C91_H} WHERE vec_id <> 0
ORDER BY d, vec_id LIMIT {_C91_K}
"""


@query("c95_hierarchical_graph_search", oracle=_C95_ORACLE)
def c95_hierarchical_graph_search(
    spark: SparkSession, sf: str
) -> DataFrame:
    """C95: HIERARCHICAL graph search — c91 grown into HNSW's actual
    two-layer shape (Malkov & Yashunin 2018): a SPARSE UPPER LAYER
    (every {_C95_LEVEL}th node, the deterministic stand-in for the
    paper's geometric level draw) is searched first with a narrow
    beam to pick a QUERY-ADAPTIVE entry point, which then seeds c91's
    base-layer search — the fixed-entry weakness c91 accepts (a far
    entry wastes its hop budget crossing the space) is exactly what
    the hierarchy fixes, and the graded ``entry_id`` column pins the
    layer handoff itself. Upper layer reuses the same blocked
    construction at out-degree {_C95_MU} over the promoted subset
    (shared _c91_edges / the shared graph CTE block); every tie
    anywhere breaks on vec_id, so promotion, both searches, and the
    handoff hash-grade in one op.

    Scale shape: the upper layer is 1/{_C95_LEVEL} of the corpus, so
    its Σ|block|² build is 1/{_C95_LEVEL}² of the base layer's; the
    upper search touches {_C95_BU}x{_C95_MU} edges per hop and the
    base search is c91's bounded shape — per query, hops x beam
    lookups on each layer. This is HNSW's actual scaling argument:
    layers shrink geometrically, so the whole hierarchy costs ~2x
    the base layer to build and O(log N)-ish hops to enter."""
    q, alledges = _c91_graph(spark, sf)
    qu = q.filter(F.col("vec_id") % _C95_LEVEL == 0)
    edges_u = _c91_edges(qu, _C95_MU)
    qvec = q.filter(F.col("vec_id") == 0).select("qv").first()["qv"]
    qlit = lit_bigint_array(qvec)
    scored_all = q.select(
        "vec_id", _c91_sqd(F.col("qv"), qlit).alias("d")
    ).localCheckpoint(eager=False)  # both layers + the seed read it
    scored_u = scored_all.join(
        F.broadcast(qu.select("vec_id")), "vec_id"
    )

    def beam_search(visited, edges, beam, hops):
        # c91's loop: no in-loop checkpoint (bounded frames over
        # checkpointed bases — measured 2x cheaper than per-hop
        # materialization)
        for _ in range(hops):
            frontier = (
                visited.orderBy("d", "vec_id")
                .limit(beam)
                .select("vec_id")
            )
            cand = (
                frontier.join(edges, frontier["vec_id"] == edges["src"])
                .select(F.col("dst").alias("vec_id"))
                .distinct()
            )
            scored = scored_all.join(F.broadcast(cand), "vec_id")
            visited = visited.unionByName(scored).distinct()
        return visited

    vu = beam_search(
        scored_u.filter(F.col("vec_id") == _C95_ENTRY_U),
        edges_u,
        _C95_BU,
        _C95_HU,
    )
    el = vu.orderBy("d", "vec_id").limit(1).select("vec_id")
    el = el.localCheckpoint(eager=False)  # seeds the base layer + output
    visited = beam_search(
        scored_all.join(F.broadcast(el), "vec_id"),
        alledges,
        _C91_B,
        _C91_H,
    )
    return (
        visited.filter(F.col("vec_id") != 0)
        .orderBy("d", "vec_id")
        .limit(_C91_K)
        .crossJoin(
            F.broadcast(el.select(F.col("vec_id").alias("entry_id")))
        )
        .select(
            F.row_number()
            .over(W.orderBy("d", "vec_id"))
            .cast("int")
            .alias("rank"),
            "vec_id",
            F.col("d").cast("bigint").alias("sq_dist"),
            F.col("entry_id").cast("bigint").alias("entry_id"),
        )
    )
