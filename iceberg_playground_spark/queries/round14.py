"""Round 14 — closing the graph-ANN arc (VERDICT r13 items 5 and 7).

- c96: INCREMENTAL GRAPH-INDEX INGEST — the maintenance verb the graph
  arm was missing: c91 builds the kNN graph once, c92 audits its
  recall, c95 layers it; c96 INGESTS a new-vector batch into the
  existing edge list the way c93's MERGE maintains the IVF index
  (build → search → audit → maintain, completed for the second ANN
  arm). Batch semantics mirror p42's streaming contract: arrivals see
  the PRE-BATCH graph (they attach to base nodes only — no
  arrival-arrival edges, which is what makes the op insertion-order
  free and hash-gradeable), base nodes re-trim their top-M adjacency
  against the arrival candidates (HNSW's shrink-if-over-capacity,
  deterministically), and the per-label hub ring is recomputed over
  the merged node set.
- c97: FILTERED ANN SEARCH — the highest-frequency production vector
  pattern not yet represented (VERDICT r13 item 7): top-K nearest
  UNDER A METADATA PREDICATE. Two arms, both graded: the exact arm
  pushes the predicate INTO THE SCAN (pinned pushdown — the filter
  prunes before any distance work), the graph arm traverses c91's
  edges unrestricted for connectivity and applies the predicate only
  to the emitted candidates (the standard HNSW filtered-search
  discipline: filtering the TRAVERSAL would disconnect the graph).
- p50: STREAMING GRAPH-INDEX INGEST — c96 at ingest time, closing the
  index-maintenance × streaming matrix for BOTH ANN arms (clustered:
  c93/p49; graph: c96/p50). The oracle is CLOSED FORM: a grow-only
  candidate set makes the incremental re-trim equal the prefix top-M
  (monotone top-k under the total (d, dst) order), so each epoch's
  whole edge state is one QUALIFY over the pair table — the streaming
  state machine must land on it exactly (p49's proof shape).
- c98 / p51: GRAPH-INDEX DELETION — batch (c98) and tombstone-stream
  (p51) forms of the repair verb; both grade the same identity
  (removing candidates not in a top-M list cannot change that top-M,
  so incremental repair ≡ the survivor rebuild the oracle computes —
  at every stream prefix for p51).

Reference parity: the reference delegates vector workloads to its
bundled Spark service (docker-compose.yml:58-81); these ops define the
Spark-first semantics a switching user needs for HNSW-class index
maintenance and filtered retrieval at lake scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from iceberg_playground_spark.queries._util import lit_bigint_array
from iceberg_playground_spark.registry import query

# ---------------------------------------------------------------------------
# c96 — incremental graph-index ingest (the c93 MERGE shape for edges)
# ---------------------------------------------------------------------------

_C96_M = 6  # out-degree, c91's contract
_C96_SCALE = 1000
_C96_DIM = 64
_C96_NEW_FROM = 90  # md5-bucket >= 90 -> this batch's arrivals (c17)

_C96_ORACLE = f"""
WITH g AS MATERIALIZED (
  SELECT vec_id, label, i,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * {_C96_SCALE})
              AS BIGINT) AS qi,
         CASE WHEN CAST('0x' || substring(md5(CAST(vec_id AS VARCHAR)),
                        1, 8) AS BIGINT) % 100 >= {_C96_NEW_FROM}
              THEN 1 ELSE 0 END AS is_new
  FROM embeddings, UNNEST(range(1, {_C96_DIM} + 1)) AS u(i)),
bb AS MATERIALIZED (
  SELECT a.label, a.vec_id AS src, b.vec_id AS dst,
         sum((a.qi - b.qi) * (a.qi - b.qi)) AS d
  FROM g a JOIN g b ON a.label = b.label AND a.i = b.i
                   AND a.vec_id <> b.vec_id
  WHERE a.is_new = 0 AND b.is_new = 0
  GROUP BY a.label, src, dst),
adjb AS MATERIALIZED (
  SELECT label, src, dst, d FROM bb
  QUALIFY row_number() OVER (PARTITION BY src ORDER BY d, dst)
          <= {_C96_M}),
ab AS MATERIALIZED (
  SELECT a.label, a.vec_id AS a_id, b.vec_id AS b_id,
         sum((a.qi - b.qi) * (a.qi - b.qi)) AS d
  FROM g a JOIN g b ON a.label = b.label AND a.i = b.i
  WHERE a.is_new = 1 AND b.is_new = 0
  GROUP BY a.label, a_id, b_id),
out_new AS MATERIALIZED (
  SELECT label, a_id AS src, b_id AS dst, d FROM ab
  QUALIFY row_number() OVER (PARTITION BY a_id ORDER BY d, b_id)
          <= {_C96_M}),
cand AS (
  SELECT label, src, dst, d FROM adjb
  UNION ALL
  SELECT label, b_id AS src, a_id AS dst, d FROM ab),
adj_new AS MATERIALIZED (
  SELECT label, src, dst, d FROM cand
  QUALIFY row_number() OVER (PARTITION BY src ORDER BY d, dst)
          <= {_C96_M}),
nodes AS (
  SELECT label, vec_id, max(is_new) AS is_new FROM g
  GROUP BY label, vec_id),
nstat AS (
  SELECT label,
         sum(CASE WHEN is_new = 0 THEN 1 ELSE 0 END) AS n_base,
         sum(is_new) AS n_new,
         min(CASE WHEN is_new = 0 THEN vec_id END) AS hub_before,
         min(vec_id) AS hub_after
  FROM nodes GROUP BY label),
kept AS (
  SELECT n.label, count(*) AS kept
  FROM adj_new n JOIN adjb o ON n.src = o.src AND n.dst = o.dst
  GROUP BY n.label),
estat AS (
  SELECT label,
         sum(is_out) AS out_edges,
         sum(is_back) AS back_edges,
         sum(src * 100003 + dst) AS edge_checksum
  FROM (
    SELECT e.label, e.src, e.dst, 0 AS is_out,
           CASE WHEN nn.is_new = 1 THEN 1 ELSE 0 END AS is_back
    FROM adj_new e JOIN nodes nn
      ON e.label = nn.label AND e.dst = nn.vec_id
    UNION ALL
    SELECT label, src, dst, 1 AS is_out, 0 AS is_back FROM out_new)
  GROUP BY label),
bstat AS (SELECT label, count(*) AS n_before FROM adjb GROUP BY label)
SELECT CAST(s.label AS INT) AS label,
       CAST(s.n_base AS BIGINT) AS n_base,
       CAST(s.n_new AS BIGINT) AS n_new,
       CAST(s.hub_before AS BIGINT) AS hub_before,
       CAST(s.hub_after AS BIGINT) AS hub_after,
       CAST(coalesce(e.out_edges, 0) AS BIGINT) AS out_edges,
       CAST(coalesce(e.back_edges, 0) AS BIGINT) AS back_edges,
       CAST(coalesce(b.n_before, 0) - coalesce(k.kept, 0) AS BIGINT)
         AS dropped_edges,
       CAST(coalesce(e.edge_checksum, 0) AS BIGINT) AS edge_checksum
FROM nstat s
LEFT JOIN estat e ON s.label = e.label
LEFT JOIN bstat b ON s.label = b.label
LEFT JOIN kept k ON s.label = k.label
ORDER BY label
"""


@query("c96_graph_index_ingest", oracle=_C96_ORACLE)
def c96_graph_index_ingest(spark: SparkSession, sf: str) -> DataFrame:
    """C96: incremental graph-index INGEST — the graph arm's
    maintenance verb (VERDICT r13 item 5), completing
    build (c91) → search (c91/c95) → audit (c92) → maintain exactly
    as c93/p49 did for the clustered arm. A real HNSW index ingests;
    c91's build-once graph could not.

    Semantics (deterministic, insertion-order free): the arrival
    batch is the md5-bucket >= {_C96_NEW_FROM} decile (c17's split
    stamp). Each arrival attaches OUT-edges to its label block's
    top-{_C96_M} PRE-BATCH base nodes (p42's batch contract: arrivals
    see the graph as it was before the batch — no arrival-arrival
    edges, so no insertion order exists to depend on). Each base node
    re-trims its adjacency to the top-{_C96_M} of (existing out-edges
    UNION arrival candidates in its label) — HNSW's
    shrink-if-over-capacity as one deterministic window. The
    per-label hub (min vec_id) recomputes over the merged node set.
    Graded per label: node counts, hub before/after, arrival
    out-edges, accepted back-edges, displaced base edges, and the
    checksum of the final edge list — a single hash cell flips if any
    edge differs.

    Scale shape: the ONLY pair work touching arrivals is
    Σ|A_l|·|B_l| inside label blocks, computed ONCE and reused in
    both directions (arrival out-edges rank it by arrival; base
    re-trims rank its transpose by base — never corpus², pinned
    never-cartesian); the base-base adjacency is the index being
    maintained (at 100 TB it is READ from the index table, not
    rebuilt — here both sides derive it with c91's construction so
    the oracle is self-contained). Per-batch cost is |batch|·|block|
    pair rows + two |edges|-sized windows: the c93 economics applied
    to edges. Reference parity: the reference's bundled Spark service
    (docker-compose.yml:58-81) is where a switching user would run
    exactly this maintenance job."""
    from iceberg_playground_spark.queries._util import hash_bucket, load
    from iceberg_playground_spark.queries.round13 import _c91_sqd

    e = load(spark, sf, "embeddings")
    q = (
        e.select(
            F.col("vec_id").cast("bigint").alias("vec_id"),
            "label",
            F.transform(
                "embedding",
                lambda x: F.floor(x.cast("double") * _C96_SCALE).cast(
                    "bigint"
                ),
            ).alias("qv"),
            (hash_bucket(F.col("vec_id")) >= _C96_NEW_FROM)
            .cast("int")
            .alias("is_new"),
        )
        # hash-repartition before the pair arms (c31's rule, round
        # 17): the label joins broadcast their other side, so the
        # Σ|block|² / Σ|A|·|B| distance folds inherit the SCAN's
        # partitioning — one parquet file = one input split = every
        # pair job on one core (cell measured 6.6 -> 2.7 s at sf0.1
        # on 32 cores). Width derives from the env'd core count.
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
        .localCheckpoint(eager=False)  # consumed by 3 pair arms + stats
    )
    base = q.filter(F.col("is_new") == 0)
    arr = q.filter(F.col("is_new") == 1)
    # pre-batch adjacency: per-label top-M among base (c91's build)
    bb = (
        base.select("label", F.col("vec_id").alias("src"),
                    F.col("qv").alias("sv"))
        .join(
            base.select("label", F.col("vec_id").alias("dst"),
                        F.col("qv").alias("dv")),
            "label",
        )
        .filter(F.col("src") != F.col("dst"))
        .select("label", "src", "dst",
                _c91_sqd(F.col("sv"), F.col("dv")).alias("d"))
    )
    adjb = (
        bb.withColumn(
            "rn",
            F.row_number().over(W.partitionBy("src").orderBy("d", "dst")),
        )
        .filter(F.col("rn") <= _C96_M)
        .drop("rn")
        .localCheckpoint(eager=False)  # cand union + kept-count arms
    )
    # the ONE arrival pair job: Σ|A_l|·|B_l|, reused in both directions
    ab = (
        arr.select("label", F.col("vec_id").alias("a_id"),
                   F.col("qv").alias("av"))
        .join(
            base.select("label", F.col("vec_id").alias("b_id"),
                        F.col("qv").alias("bv")),
            "label",
        )
        .select("label", "a_id", "b_id",
                _c91_sqd(F.col("av"), F.col("bv")).alias("d"))
        .localCheckpoint(eager=False)  # out_new + back-candidate arms
    )
    out_new = (
        ab.withColumn(
            "rn",
            F.row_number().over(W.partitionBy("a_id").orderBy("d", "b_id")),
        )
        .filter(F.col("rn") <= _C96_M)
        .select("label", F.col("a_id").alias("src"),
                F.col("b_id").alias("dst"), "d")
    )
    cand = adjb.unionByName(
        ab.select("label", F.col("b_id").alias("src"),
                  F.col("a_id").alias("dst"), "d")
    )
    # no checkpoint on the re-trimmed adjacency (round 17): its two
    # former consumers (edge stats + displaced-edge count) now read it
    # through ONE flagged aggregate below, so the window runs once
    # inside a single-consumer lineage — one fewer plan->RDD
    # conversion, one fewer pass
    adj_new = (
        cand.withColumn(
            "rn",
            F.row_number().over(W.partitionBy("src").orderBy("d", "dst")),
        )
        .filter(F.col("rn") <= _C96_M)
        .drop("rn")
    )
    nstat = q.groupBy("label").agg(
        F.sum(1 - F.col("is_new")).cast("bigint").alias("n_base"),
        F.sum("is_new").cast("bigint").alias("n_new"),
        F.min(F.when(F.col("is_new") == 0, F.col("vec_id")))
        .cast("bigint")
        .alias("hub_before"),
        F.min("vec_id").cast("bigint").alias("hub_after"),
    )
    arrivals = q.filter(F.col("is_new") == 1).select(
        F.col("vec_id").alias("dst")
    )
    # ONE pass over the re-trimmed adjacency computes back-edge flags
    # (broadcast arrival-id join: batch-sized), kept flags (join on the
    # pre-batch edges, |base|*M rows, corpus-sized at scale: no hint,
    # so Spark broadcasts it only under its size threshold), and the
    # checksum's adjacency share; out_new's share aggregates separately
    # and adds by label. Same numbers as the former estat/kept two-pass
    # shape (checksum is a sum, so it splits across the union's two
    # legs).
    flagged = (
        adj_new.join(
            F.broadcast(arrivals.withColumn("is_back", F.lit(1))),
            "dst",
            "left",
        )
        .join(
            adjb.select("src", "dst").withColumn("is_kept", F.lit(1)),
            ["src", "dst"],
            "left",
        )
        .select(
            "label", "src", "dst",
            F.coalesce("is_back", F.lit(0)).alias("is_back"),
            F.coalesce("is_kept", F.lit(0)).alias("is_kept"),
        )
    )
    astat = flagged.groupBy("label").agg(
        F.sum("is_back").cast("bigint").alias("back_edges"),
        F.sum(F.col("src") * 100003 + F.col("dst"))
        .cast("bigint")
        .alias("cks_adj"),
        F.sum("is_kept").cast("bigint").alias("kept"),
    )
    ostat = out_new.groupBy("label").agg(
        F.count("*").cast("bigint").alias("out_edges"),
        F.sum(F.col("src") * 100003 + F.col("dst"))
        .cast("bigint")
        .alias("cks_out"),
    )
    bstat = adjb.groupBy("label").agg(F.count("*").alias("n_before"))
    return (
        nstat.join(astat, "label", "left")
        .join(ostat, "label", "left")
        .join(bstat, "label", "left")
        .select(
            F.col("label").cast("int").alias("label"),
            "n_base",
            "n_new",
            "hub_before",
            "hub_after",
            F.coalesce("out_edges", F.lit(0))
            .cast("bigint")
            .alias("out_edges"),
            F.coalesce("back_edges", F.lit(0))
            .cast("bigint")
            .alias("back_edges"),
            (
                F.coalesce("n_before", F.lit(0))
                - F.coalesce("kept", F.lit(0))
            )
            .cast("bigint")
            .alias("dropped_edges"),
            (
                F.coalesce("cks_adj", F.lit(0))
                + F.coalesce("cks_out", F.lit(0))
            )
            .cast("bigint")
            .alias("edge_checksum"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# c97 — filtered ANN search (metadata predicate + top-k, both arms)
# ---------------------------------------------------------------------------

_C97_LABELS = (2, 5, 7)  # the metadata predicate: label IN (...)
_C97_K = 10


def _c97_oracle() -> str:
    from iceberg_playground_spark.queries.round13 import (
        _C91_GRAPH_CTES,
        _C91_H,
        _c91_search_ctes,
    )

    labels = ", ".join(str(x) for x in _C97_LABELS)
    return f"""
WITH {_C91_GRAPH_CTES},
qv AS (SELECT i, qi FROM g WHERE vec_id = 0),
dq AS MATERIALIZED (
  SELECT g.vec_id, sum((g.qi - qv.qi) * (g.qi - qv.qi)) AS d
  FROM g JOIN qv ON g.i = qv.i GROUP BY g.vec_id),
lbl AS (SELECT DISTINCT vec_id, label FROM g),
exactf AS (
  SELECT dq.vec_id FROM dq JOIN lbl USING (vec_id)
  WHERE dq.vec_id <> 0 AND lbl.label IN ({labels})
  QUALIFY row_number() OVER (ORDER BY d, vec_id) <= {_C97_K}),
{_c91_search_ctes()},
res AS (
  SELECT v.vec_id, l.label, v.d FROM v{_C91_H} v JOIN lbl l USING (vec_id)
  WHERE v.vec_id <> 0 AND l.label IN ({labels})
  ORDER BY v.d, v.vec_id LIMIT {_C97_K})
SELECT CAST(row_number() OVER (ORDER BY d, vec_id) AS INT) AS rank,
       CAST(vec_id AS BIGINT) AS vec_id,
       CAST(label AS INT) AS label,
       CAST(d AS BIGINT) AS sq_dist,
       CAST(CASE WHEN vec_id IN (SELECT vec_id FROM exactf)
                 THEN 1 ELSE 0 END AS INT) AS in_exact
FROM res ORDER BY rank
"""


@query("c97_filtered_ann_search", oracle=_c97_oracle())
def c97_filtered_ann_search(spark: SparkSession, sf: str) -> DataFrame:
    """C97: FILTERED ANN — predicate-constrained top-k, the
    highest-frequency production vector-search pattern (VERDICT r13
    item 7: "metadata filter + top-k"): return the {_C97_K} nearest
    neighbors of the query (vec 0) WHOSE LABEL IS IN {_C97_LABELS},
    searched through c91's graph, with the exact filtered answer
    computed alongside so every emitted row carries its ground-truth
    membership (in_exact — c92's audit idea folded into the result).

    The two filtering disciplines, both exercised:
    - EXACT arm: the predicate applies BEFORE any distance work — a
      simple label membership, so Catalyst pushes it into the parquet
      scan (PushedFilters: In(label, …), pinned in test_plans) and
      non-matching vectors are never even materialized, let alone
      scored. At 100 TB this is the difference between scoring the
      corpus and scoring the selectivity-fraction of it.
    - GRAPH arm: the TRAVERSAL stays unrestricted (filtering edges
      would disconnect the graph — the standard HNSW filtered-search
      rule); the predicate applies to the EMITTED candidate set only.
      Per-hop work is still hops×beam bounded broadcast lookups.

    Scale shape: identical to c91 plus one broadcast label lookup on
    the beam-bounded result; the exact arm scans only the predicate's
    partitions/row-groups (label is a natural partition key for a
    lakehouse vector table — b67's pruning discipline applies
    verbatim)."""
    from iceberg_playground_spark.queries.round13 import (
        _C91_B,
        _C91_ENTRY,
        _C91_H,
        _C91_SCALE,
        _c91_graph,
        _c91_sqd,
    )

    from iceberg_playground_spark.queries._util import load

    q, alledges = _c91_graph(spark, sf)
    qvec = q.filter(F.col("vec_id") == 0).select("qv").first()["qv"]
    qlit = lit_bigint_array(qvec)
    scored_all = q.select(
        "vec_id", "label", _c91_sqd(F.col("qv"), qlit).alias("d")
    ).localCheckpoint(eager=False)  # every hop + the graph-arm result
    # exact filtered arm: its OWN scan with the predicate BEFORE any
    # quantize/distance work, so Catalyst pushes In(label, …) into the
    # parquet reader (pinned) — non-matching vectors are never
    # materialized, the production filtered-brute shape
    exact_src = load(spark, sf, "embeddings").filter(
        F.col("label").isin(*_C97_LABELS)
    )
    exactf = (
        exact_src.select(
            F.col("vec_id").cast("bigint").alias("vec_id"),
            _c91_sqd(
                F.transform(
                    "embedding",
                    lambda x: F.floor(
                        x.cast("double") * _C91_SCALE
                    ).cast("bigint"),
                ),
                qlit,
            ).alias("d"),
        )
        .filter(F.col("vec_id") != 0)
        .orderBy("d", "vec_id")
        .limit(_C97_K)
        .select("vec_id", F.lit(1).alias("in_exact"))
    )
    visited = scored_all.select("vec_id", "d").filter(
        F.col("vec_id") == _C91_ENTRY
    )
    # c91's loop verbatim: bases are checkpointed, loop frames are
    # beam-bounded and recompute cheaper than they materialize
    for _ in range(_C91_H):
        beam = visited.orderBy("d", "vec_id").limit(_C91_B).select("vec_id")
        cand = (
            beam.join(alledges, beam["vec_id"] == alledges["src"])
            .select(F.col("dst").alias("vec_id"))
            .distinct()
        )
        scored = scored_all.select("vec_id", "d").join(
            F.broadcast(cand), "vec_id"
        )
        visited = visited.unionByName(scored).distinct()
    res = (
        visited.join(
            scored_all.select("vec_id", "label"), "vec_id"
        )
        .filter(
            (F.col("vec_id") != 0) & F.col("label").isin(*_C97_LABELS)
        )
        .orderBy("d", "vec_id")
        .limit(_C97_K)
    )
    return res.join(F.broadcast(exactf), "vec_id", "left").select(
        F.row_number()
        .over(W.orderBy("d", "vec_id"))
        .cast("int")
        .alias("rank"),
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("label").cast("int").alias("label"),
        F.col("d").cast("bigint").alias("sq_dist"),
        F.coalesce("in_exact", F.lit(0)).cast("int").alias("in_exact"),
    ).orderBy("rank")


# ---------------------------------------------------------------------------
# p50 — streaming graph-index ingest (c96's twin at ingest time)
# ---------------------------------------------------------------------------

_P50_E = 3  # build epoch 0 + two arrival epochs (p49's quartile idiom)
_P50_M = 6  # out-degree, c91/c96's contract


def _p50_oracle() -> str:
    """The per-epoch ingest report in CLOSED FORM. The key identity:
    top-M of a candidate set that only GROWS equals the incremental
    re-trim top-M(top-M(S1) ∪ S2) (monotone top-k under the total
    (d, dst) order), so epoch e's whole adjacency is one QUALIFY over
    the pair table restricted to nodes with epoch <= e under the
    candidacy rule — no per-epoch state replay. Candidacy rule
    (c96's batch contract made multi-epoch): u may link to v iff
    both are build-epoch nodes (epoch 0) or they arrived in
    DIFFERENT epochs (same-epoch arrivals never see each other, so
    no insertion order exists inside a batch)."""
    qual = (
        f"QUALIFY row_number() OVER (PARTITION BY src "
        f"ORDER BY d, dst) <= {_P50_M}"
    )
    adj = ", ".join(
        f"""adj{e} AS MATERIALIZED (
  SELECT label, src, es, dst, ed, d FROM cand
  WHERE es <= {e} AND ed <= {e}
  {qual})"""
        for e in range(_P50_E)
    )
    st = "\nUNION ALL\n".join(
        f"""SELECT {e} AS epoch,
       (SELECT count(*) FROM ge WHERE epoch = {e}) AS n_arrivals,
       (SELECT count(*) FROM adj{e} WHERE es = {e}) AS out_edges,
       (SELECT count(*) FROM adj{e} WHERE ed = {e} AND es < {e})
         AS back_edges,
       (SELECT count(*) FROM adj{e}) AS cum_edges,
       (SELECT coalesce(sum(src * 100003 + dst), 0) FROM adj{e})
         AS edge_checksum"""
        for e in range(_P50_E)
    )
    return f"""
WITH nn AS (SELECT count(*) AS n FROM embeddings),
ge AS MATERIALIZED (
  SELECT vec_id, label,
         (vec_id * {_P50_E}) // (SELECT n FROM nn) AS epoch,
         list_transform(embedding, v ->
           CAST(floor(CAST(v AS DOUBLE) * 1000) AS BIGINT)) AS qv
  FROM embeddings),
gg AS MATERIALIZED (
  SELECT vec_id, label, epoch, u.i AS i, qv[i] AS qi
  FROM ge, UNNEST(range(1, 65)) AS u(i)),
pd AS MATERIALIZED (
  SELECT a.label, a.vec_id AS src, a.epoch AS es,
         b.vec_id AS dst, b.epoch AS ed,
         sum((a.qi - b.qi) * (a.qi - b.qi)) AS d
  FROM gg a JOIN gg b ON a.label = b.label AND a.i = b.i
                     AND a.vec_id <> b.vec_id
  GROUP BY a.label, src, es, dst, ed),
cand AS MATERIALIZED (
  SELECT * FROM pd WHERE (es = 0 AND ed = 0) OR (es <> ed)),
{adj}
SELECT CAST(epoch AS BIGINT) AS epoch,
       CAST(n_arrivals AS BIGINT) AS n_arrivals,
       CAST(out_edges AS BIGINT) AS out_edges,
       CAST(back_edges AS BIGINT) AS back_edges,
       CAST(cum_edges AS BIGINT) AS cum_edges,
       CAST(edge_checksum AS BIGINT) AS edge_checksum
FROM ({st})
ORDER BY epoch
"""


@query("p50_streaming_graph_ingest", oracle=_p50_oracle())
def p50_streaming_graph_ingest(spark: SparkSession, sf: str) -> DataFrame:
    """P50: STREAMING GRAPH-INDEX INGEST — c96's maintenance verb at
    ingest time, completing batch+streaming symmetry for BOTH ANN
    arms (clustered: c93 batch / p49 streaming; graph: c96 batch /
    p50 streaming — the index-maintenance x streaming matrix closes).
    Embedding batches arrive as {_P50_E} vec-id-tertile micro-batches
    in mtime-pinned order (p36's contract): epoch 0 BUILDS the
    label-blocked top-{_P50_M} adjacency among its own nodes (c91's
    construction); each later epoch attaches its arrivals to the
    ACCUMULATED node set (out-edges = top-{_P50_M} against existing
    nodes, never same-batch peers — c96's rule, which is what kills
    insertion-order dependence), re-trims every existing node's list
    against the arrival candidates (shrink-if-over-capacity), and
    reports arrivals, out-edges, accepted back-edges, cumulative edge
    count and the edge-list checksum.

    The oracle computes every epoch's report in CLOSED FORM: a
    grow-only candidate set makes the incremental re-trim equal the
    prefix top-{_P50_M} (monotone top-k under the total (d, dst)
    order), so the streaming state machine must land on one QUALIFY
    per epoch exactly — p49's closed-form-vs-state-machine proof
    shape, applied to edges.

    Scale shape: per-epoch work is one label-blocked |batch|x|state|
    pair job (computed once, ranked in both directions — c96's
    economics paid incrementally, never corpus²) + two |edges|
    windows; cross-batch state is the (vec_id, label, qv) node table
    and the ~M rows/node edge list. At 100 TB each epoch pays
    |batch|x|block|, never |corpus|²."""
    import os
    import shutil

    from iceberg_playground_spark.queries._util import load
    from iceberg_playground_spark.queries.lakehouse import _built
    from iceberg_playground_spark.queries.round13 import _c91_sqd
    from iceberg_playground_spark.queries.streaming import _scratch

    e = load(spark, sf, "embeddings").select(
        "vec_id", "label", "embedding"
    )

    def build(tmp: str) -> str:
        src = os.path.join(tmp, "incoming")
        os.makedirs(src, exist_ok=True)
        now = int(os.stat(tmp).st_mtime)
        # corpus count only on cold fixture build, never at query
        # construction (c90's no-action-outside-the-plan rule)
        n = e.count()
        ep = F.expr(f"(vec_id * {_P50_E}) DIV {n}")
        for i in range(_P50_E):
            part_dir = os.path.join(tmp, f"stage_{i}")
            (
                e.filter(ep == i)
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

    src = _built(spark, sf, "p50", build)
    stream = (
        spark.readStream.schema(
            "vec_id BIGINT, label INT, embedding ARRAY<FLOAT>,"
            " epoch BIGINT"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    work = _scratch("ips_stream_gidx_")
    report = os.path.join(work, "report")
    holder = {"nodes": None, "edges": None}
    try:

        def quant(df: DataFrame) -> DataFrame:
            return df.select(
                F.col("vec_id").cast("bigint").alias("vec_id"),
                "label",
                F.transform(
                    "embedding",
                    lambda x: F.floor(x.cast("double") * 1000).cast(
                        "bigint"
                    ),
                ).alias("qv"),
            )

        def topm(edges: DataFrame) -> DataFrame:
            return (
                edges.withColumn(
                    "rn",
                    F.row_number().over(
                        W.partitionBy("src").orderBy("d", "dst")
                    ),
                )
                .filter(F.col("rn") <= _P50_M)
                .drop("rn")
            )

        def sink_batch(batch_df: DataFrame, _epoch_id: int) -> None:
            if batch_df.isEmpty():
                # an empty staged file (possible at tiny SFs) carries
                # no epoch; min("epoch") would be NULL -> TypeError
                return
            ep = int(batch_df.agg(F.min("epoch")).first()[0])
            batch = quant(batch_df).localCheckpoint(eager=False)
            if holder["nodes"] is None:
                # epoch 0: c91's build among the batch itself
                a = batch.select(
                    "label", F.col("vec_id").alias("src"),
                    F.col("qv").alias("sv"),
                )
                b = batch.select(
                    "label", F.col("vec_id").alias("dst"),
                    F.col("qv").alias("dv"),
                )
                pairs = a.join(b, "label").filter(
                    F.col("src") != F.col("dst")
                )
                adj = topm(
                    pairs.select(
                        "label", "src", "dst",
                        _c91_sqd(F.col("sv"), F.col("dv")).alias("d"),
                    )
                )
                out_edges = adj.count()
                back_edges = 0
            else:
                nodes = spark.read.parquet(holder["nodes"])
                prev = spark.read.parquet(holder["edges"])
                # the ONE |batch|x|state| pair job, both directions
                ab = (
                    batch.select(
                        "label", F.col("vec_id").alias("a_id"),
                        F.col("qv").alias("av"),
                    )
                    .join(
                        nodes.select(
                            "label", F.col("vec_id").alias("b_id"),
                            F.col("qv").alias("bv"),
                        ),
                        "label",
                    )
                    .select(
                        "label", "a_id", "b_id",
                        _c91_sqd(F.col("av"), F.col("bv")).alias("d"),
                    )
                    .localCheckpoint(eager=False)  # ranked twice
                )
                out_new = topm(
                    ab.select(
                        "label", F.col("a_id").alias("src"),
                        F.col("b_id").alias("dst"), "d",
                    )
                )
                retrim = topm(
                    prev.unionByName(
                        ab.select(
                            "label", F.col("b_id").alias("src"),
                            F.col("a_id").alias("dst"), "d",
                        )
                    )
                )
                arrive_ids = batch.select(
                    F.col("vec_id").alias("dst")
                )
                back_edges = retrim.join(
                    F.broadcast(arrive_ids), "dst"
                ).count()
                out_edges = out_new.count()
                adj = retrim.unionByName(out_new)
            newe = os.path.join(work, f"edges_{ep}")
            adj.write.parquet(newe)
            holder["edges"] = newe
            newn = os.path.join(work, f"nodes_{ep}")
            if holder["nodes"] is None:
                batch.write.parquet(newn)
            else:
                spark.read.parquet(holder["nodes"]).unionByName(
                    batch
                ).write.parquet(newn)
            holder["nodes"] = newn
            state = spark.read.parquet(newe)
            cum = state.count()
            chk = (
                state.agg(
                    F.sum(F.col("src") * 100003 + F.col("dst"))
                ).first()[0]
                or 0
            )
            spark.createDataFrame(
                [
                    (
                        ep,
                        batch.count(),
                        out_edges,
                        back_edges,
                        cum,
                        int(chk),
                    )
                ],
                "epoch BIGINT, n_arrivals BIGINT, out_edges BIGINT,"
                " back_edges BIGINT, cum_edges BIGINT,"
                " edge_checksum BIGINT",
            ).write.mode("append").parquet(report)

        q = (
            stream.writeStream.foreachBatch(sink_batch)
            .option("checkpointLocation", _scratch("ips_stream_gick_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # SIZE GUARD: |epochs| rows, collected because the scratch
        # dirs are deleted in finally (p49's literal-result rule)
        rows = sorted(
            tuple(int(x) for x in r)
            for r in spark.read.parquet(report).collect()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "epoch BIGINT, n_arrivals BIGINT, out_edges BIGINT,"
        " back_edges BIGINT, cum_edges BIGINT, edge_checksum BIGINT",
    ).orderBy("epoch")


# ---------------------------------------------------------------------------
# c98 — graph-index node deletion + incremental edge repair
# ---------------------------------------------------------------------------

_C98_MOD = 7  # vec_id % 7 == 3 -> deleted (~14%, deterministic)
_C98_DEL = 3

_C98_ORACLE = f"""
WITH g AS MATERIALIZED (
  SELECT vec_id, label, i,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS qi,
         CASE WHEN vec_id % {_C98_MOD} = {_C98_DEL} THEN 1 ELSE 0 END
           AS del
  FROM embeddings, UNNEST(range(1, 65)) AS u(i)),
pd AS MATERIALIZED (
  SELECT a.label, a.vec_id AS src, a.del AS sdel,
         b.vec_id AS dst, b.del AS ddel,
         sum((a.qi - b.qi) * (a.qi - b.qi)) AS d
  FROM g a JOIN g b ON a.label = b.label AND a.i = b.i
                   AND a.vec_id <> b.vec_id
  GROUP BY a.label, src, sdel, dst, ddel),
adj0 AS MATERIALIZED (
  SELECT label, src, sdel, dst, ddel FROM pd
  QUALIFY row_number() OVER (PARTITION BY src ORDER BY d, dst) <= 6),
-- the repaired graph IS the full survivor rebuild: an unaffected
-- node's top-M over survivors equals its old list (removing
-- non-list candidates cannot change a top-M), so incremental repair
-- and rebuild coincide — the identity the Spark arm must land on
adj1 AS MATERIALIZED (
  SELECT label, src, dst FROM pd
  WHERE sdel = 0 AND ddel = 0
  QUALIFY row_number() OVER (PARTITION BY src ORDER BY d, dst) <= 6),
nodes AS (SELECT label, vec_id, max(del) AS del FROM g
          GROUP BY label, vec_id),
nstat AS (
  SELECT label, count(*) AS n_before, sum(del) AS n_deleted,
         min(CASE WHEN del = 0 THEN vec_id END) AS hub_after,
         min(vec_id) AS hub_before
  FROM nodes GROUP BY label),
aff AS (
  SELECT label, src FROM adj0
  WHERE sdel = 0 GROUP BY label, src HAVING max(ddel) = 1),
astat AS (SELECT label, count(*) AS n_affected FROM aff GROUP BY label),
b4 AS (SELECT label, count(*) AS edges_before FROM adj0 GROUP BY label),
aft AS (SELECT label, count(*) AS edges_after,
               sum(src * 100003 + dst) AS edge_checksum
        FROM adj1 GROUP BY label)
SELECT CAST(s.label AS INT) AS label,
       CAST(s.n_before AS BIGINT) AS n_before,
       CAST(s.n_deleted AS BIGINT) AS n_deleted,
       CAST(coalesce(a.n_affected, 0) AS BIGINT) AS n_affected,
       CAST(b4.edges_before AS BIGINT) AS edges_before,
       CAST(coalesce(aft.edges_after, 0) AS BIGINT) AS edges_after,
       CAST(s.hub_before AS BIGINT) AS hub_before,
       CAST(s.hub_after AS BIGINT) AS hub_after,
       CAST(coalesce(aft.edge_checksum, 0) AS BIGINT) AS edge_checksum
FROM nstat s
LEFT JOIN astat a ON s.label = a.label
LEFT JOIN b4 ON s.label = b4.label
LEFT JOIN aft ON s.label = aft.label
ORDER BY label
"""


@query("c98_graph_index_delete", oracle=_C98_ORACLE)
def c98_graph_index_delete(spark: SparkSession, sf: str) -> DataFrame:
    """C98: graph-index node DELETION with incremental edge repair —
    the verb that pairs with c96's ingest (a production vector index
    deletes: GDPR erasure, TTL retention, upstream dedup; HNSW
    deletion is the classically hard maintenance case because edges
    THROUGH a deleted node break navigability). Deleted set: vec_id %
    {_C98_MOD} = {_C98_DEL} (deterministic ~14%). The repair rule is
    HNSW's practical one: a surviving node is AFFECTED iff its
    adjacency lost an edge to a deleted node; only affected nodes
    recompute their top-6 against their label block's survivors —
    unaffected lists are left untouched.

    The graded identity (c93's "incremental ≡ full rebuild" framing,
    applied to edges): removing candidates that were NOT in a top-M
    list cannot change that top-M, so untouched lists already equal
    their survivor-rebuild value and the incremental repair lands
    bit-for-bit on the full survivor rebuild — which is what the
    oracle computes. One hash cell flips if the repair misses or
    over-touches a single edge. Hubs re-elect per label (min
    surviving vec_id) — the graded hub_before/hub_after handoff.

    Scale shape: repair pair work is Σ|affected_l|·|survivors_l|
    INSIDE label blocks — bounded by the deleted fraction, never a
    full rebuild and never corpus² (pinned never-cartesian); the
    affected set is one |edges| semi-join against the deleted ids.
    At 100 TB a retention pass repairs only the lists the tombstones
    actually touched — the whole point of incremental maintenance."""
    from iceberg_playground_spark.queries._util import load
    from iceberg_playground_spark.queries.round13 import _c91_sqd

    e = load(spark, sf, "embeddings")
    q = e.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        "label",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1000).cast("bigint"),
        ).alias("qv"),
        (F.col("vec_id") % _C98_MOD == _C98_DEL)
        .cast("int")
        .alias("del"),
    ).localCheckpoint(eager=False)  # pair arms + stats
    a = q.select(
        "label", F.col("vec_id").alias("src"),
        F.col("qv").alias("sv"), F.col("del").alias("sdel"),
    )
    b = q.select(
        "label", F.col("vec_id").alias("dst"),
        F.col("qv").alias("dv"), F.col("del").alias("ddel"),
    )
    pairs = (
        a.join(b, "label")
        .filter(F.col("src") != F.col("dst"))
        .select(
            "label", "src", "sdel", "dst", "ddel",
            _c91_sqd(F.col("sv"), F.col("dv")).alias("d"),
        )
        .localCheckpoint(eager=False)  # before-adjacency + repair arm
    )
    adj0 = (
        pairs.withColumn(
            "rn",
            F.row_number().over(W.partitionBy("src").orderBy("d", "dst")),
        )
        .filter(F.col("rn") <= 6)
        .drop("rn")
        .localCheckpoint(eager=False)  # affected set + stats + keep arm
    )
    # incremental repair: ONLY nodes whose list lost a deleted dst
    # recompute, against survivors in their label block
    aff = (
        adj0.filter((F.col("sdel") == 0))
        .groupBy("label", "src")
        .agg(F.max("ddel").alias("lost"))
        .filter(F.col("lost") == 1)
        .select("src")
    )
    repaired = (
        pairs.filter((F.col("sdel") == 0) & (F.col("ddel") == 0))
        .join(F.broadcast(aff), "src")
        .withColumn(
            "rn",
            F.row_number().over(W.partitionBy("src").orderBy("d", "dst")),
        )
        .filter(F.col("rn") <= 6)
        .select("label", "src", "dst")
    )
    untouched = adj0.filter(F.col("sdel") == 0).join(
        F.broadcast(aff), "src", "left_anti"
    ).select("label", "src", "dst")
    final = untouched.unionByName(repaired)
    nstat = q.groupBy("label").agg(
        F.count("*").cast("bigint").alias("n_before"),
        F.sum("del").cast("bigint").alias("n_deleted"),
        F.min("vec_id").cast("bigint").alias("hub_before"),
        F.min(F.when(F.col("del") == 0, F.col("vec_id")))
        .cast("bigint")
        .alias("hub_after"),
    )
    astat = (
        adj0.filter(F.col("sdel") == 0)
        .groupBy("label", "src")
        .agg(F.max("ddel").alias("lost"))
        .filter(F.col("lost") == 1)
        .groupBy("label")
        .agg(F.count("*").cast("bigint").alias("n_affected"))
    )
    b4 = adj0.groupBy("label").agg(
        F.count("*").cast("bigint").alias("edges_before")
    )
    aft = final.groupBy("label").agg(
        F.count("*").cast("bigint").alias("edges_after"),
        F.sum(F.col("src") * 100003 + F.col("dst"))
        .cast("bigint")
        .alias("edge_checksum"),
    )
    return (
        nstat.join(astat, "label", "left")
        .join(b4, "label", "left")
        .join(aft, "label", "left")
        .select(
            F.col("label").cast("int").alias("label"),
            "n_before",
            "n_deleted",
            F.coalesce("n_affected", F.lit(0))
            .cast("bigint")
            .alias("n_affected"),
            F.coalesce("edges_before", F.lit(0))
            .cast("bigint")
            .alias("edges_before"),
            F.coalesce("edges_after", F.lit(0))
            .cast("bigint")
            .alias("edges_after"),
            "hub_before",
            "hub_after",
            F.coalesce("edge_checksum", F.lit(0))
            .cast("bigint")
            .alias("edge_checksum"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# p51 — streaming graph-index deletion (c98's twin at ingest time)
# ---------------------------------------------------------------------------

_P51_MOD = 7  # vec_id % 7 == 3 -> eventually tombstoned (c98's set)
_P51_DEL = 3
_P51_E = 3  # epoch 0 = build, epochs 1..2 = tombstone halves


def _p51_oracle() -> str:
    """Per-epoch tombstone report in CLOSED FORM: deletion shrinks the
    candidate set monotonically, and removing candidates that were
    NOT in a top-M list cannot change that top-M — so the state after
    epoch e equals the top-M over the nodes STILL ALIVE at e (the
    same identity c98 grades once, held at every prefix). The
    streaming repair loop must land on each prefix exactly."""
    adj = ", ".join(
        f"""adj{e} AS MATERIALIZED (
  SELECT label, src, sde, dst, dde FROM pd
  WHERE (sde IS NULL OR sde > {e}) AND (dde IS NULL OR dde > {e})
  QUALIFY row_number() OVER (PARTITION BY src ORDER BY d, dst) <= 6)"""
        for e in range(_P51_E)
    )
    st = "\nUNION ALL\n".join(
        f"""SELECT {e} AS epoch,
       (SELECT count(*) FROM ge WHERE de = {e}) AS n_deleted,
       (SELECT count(DISTINCT src) FROM adj{max(e - 1, 0)}
        WHERE {e} > 0 AND dde = {e}
          AND (sde IS NULL OR sde > {e})) AS n_affected,
       (SELECT count(*) FROM adj{e}) AS edges_after,
       (SELECT coalesce(sum(src * 100003 + dst), 0) FROM adj{e})
         AS edge_checksum"""
        for e in range(_P51_E)
    )
    return f"""
WITH nn AS (SELECT count(*) AS n FROM embeddings),
ge AS MATERIALIZED (
  SELECT vec_id, label,
         CASE WHEN vec_id % {_P51_MOD} = {_P51_DEL}
              THEN 1 + (vec_id * {_P51_E - 1}) // (SELECT n FROM nn)
              END AS de,
         list_transform(embedding, v ->
           CAST(floor(CAST(v AS DOUBLE) * 1000) AS BIGINT)) AS qv
  FROM embeddings),
gg AS MATERIALIZED (
  SELECT vec_id, label, de, u.i AS i, qv[i] AS qi
  FROM ge, UNNEST(range(1, 65)) AS u(i)),
pd AS MATERIALIZED (
  SELECT a.label, a.vec_id AS src, a.de AS sde,
         b.vec_id AS dst, b.de AS dde,
         sum((a.qi - b.qi) * (a.qi - b.qi)) AS d
  FROM gg a JOIN gg b ON a.label = b.label AND a.i = b.i
                     AND a.vec_id <> b.vec_id
  GROUP BY a.label, src, sde, dst, dde),
{adj}
SELECT CAST(epoch AS BIGINT) AS epoch,
       CAST(n_deleted AS BIGINT) AS n_deleted,
       CAST(n_affected AS BIGINT) AS n_affected,
       CAST(edges_after AS BIGINT) AS edges_after,
       CAST(edge_checksum AS BIGINT) AS edge_checksum
FROM ({st})
ORDER BY epoch
"""


@query("p51_streaming_graph_delete", oracle=_p51_oracle())
def p51_streaming_graph_delete(spark: SparkSession, sf: str) -> DataFrame:
    """P51: STREAMING GRAPH-INDEX DELETION — c98's repair verb driven
    by a TOMBSTONE CDC STREAM, completing the maintenance matrix the
    graph arm now shares with the clustered arm (ingest: c96 batch /
    p50 stream; delete: c98 batch / p51 stream). Three mtime-pinned
    micro-batches: epoch 0 is the BUILD (op=add, every node — c91's
    label-blocked top-6 construction); epochs 1-2 deliver tombstones
    (op=del, the vec_id % {_P51_MOD} = {_P51_DEL} population split in
    vec-id halves). Each tombstone batch drops the deleted nodes'
    own lists, finds the SURVIVORS whose lists lost a member (the
    affected set — c98's rule, applied incrementally), recomputes
    only those lists against the current survivors, and reports
    n_deleted / n_affected / edges_after / edge checksum.

    The oracle is CLOSED FORM at every prefix: deletion shrinks the
    candidate set monotonically and removing non-list candidates
    cannot change a top-M, so the state after epoch e IS the top-6
    over the nodes still alive at e — one QUALIFY per epoch. The
    streaming repair loop must land on each prefix bit-for-bit
    (p50's proof shape, inverted).

    Scale shape: per-epoch repair pair work is
    Σ|affected_l|·|survivors_l| inside label blocks — bounded by the
    batch's tombstone fan-in, never a rebuild; cross-batch state is
    the node table + ~6 rows/node edge list. At 100 TB a retention
    tombstone stream repairs exactly the lists each batch touches."""
    import os
    import shutil

    from iceberg_playground_spark.queries._util import load
    from iceberg_playground_spark.queries.lakehouse import _built
    from iceberg_playground_spark.queries.round13 import _c91_sqd
    from iceberg_playground_spark.queries.streaming import _scratch

    e = load(spark, sf, "embeddings").select(
        "vec_id", "label", "embedding"
    )

    def build(tmp: str) -> str:
        src = os.path.join(tmp, "incoming")
        os.makedirs(src, exist_ok=True)
        now = int(os.stat(tmp).st_mtime)
        # corpus count only on cold fixture build (c90's rule)
        n = e.count()
        de = F.expr(
            f"CASE WHEN vec_id % {_P51_MOD} = {_P51_DEL} THEN "
            f"1 + (vec_id * {_P51_E - 1}) DIV {n} END"
        )
        batches = [
            e.withColumn("op", F.lit("add")).withColumn(
                "epoch", F.lit(0).cast("bigint")
            )
        ]
        for i in range(1, _P51_E):
            batches.append(
                e.withColumn("de", de)
                .filter(F.col("de") == i)
                .drop("de")
                .withColumn("op", F.lit("del"))
                .withColumn("epoch", F.lit(i).cast("bigint"))
            )
        for i, bdf in enumerate(batches):
            part_dir = os.path.join(tmp, f"stage_{i}")
            bdf.coalesce(1).write.mode("overwrite").parquet(part_dir)
            part = next(
                f
                for f in os.listdir(part_dir)
                if f.endswith(".parquet") and f.startswith("part-")
            )
            dst = os.path.join(src, f"arrival_{i}.parquet")
            shutil.copyfile(os.path.join(part_dir, part), dst)
            os.utime(dst, (now + 10 * i, now + 10 * i))
        return src

    src = _built(spark, sf, "p51", build)
    stream = (
        spark.readStream.schema(
            "vec_id BIGINT, label INT, embedding ARRAY<FLOAT>,"
            " op STRING, epoch BIGINT"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    work = _scratch("ips_stream_gdel_")
    report = os.path.join(work, "report")
    holder = {"nodes": None, "edges": None}
    try:

        def quant(df: DataFrame) -> DataFrame:
            return df.select(
                F.col("vec_id").cast("bigint").alias("vec_id"),
                "label",
                F.transform(
                    "embedding",
                    lambda x: F.floor(x.cast("double") * 1000).cast(
                        "bigint"
                    ),
                ).alias("qv"),
            )

        def topm(edges: DataFrame) -> DataFrame:
            return (
                edges.withColumn(
                    "rn",
                    F.row_number().over(
                        W.partitionBy("src").orderBy("d", "dst")
                    ),
                )
                .filter(F.col("rn") <= 6)
                .drop("rn")
            )

        def pair_job(a_nodes: DataFrame, b_nodes: DataFrame) -> DataFrame:
            a = a_nodes.select(
                "label", F.col("vec_id").alias("src"),
                F.col("qv").alias("sv"),
            )
            b = b_nodes.select(
                "label", F.col("vec_id").alias("dst"),
                F.col("qv").alias("dv"),
            )
            return (
                a.join(b, "label")
                .filter(F.col("src") != F.col("dst"))
                .select(
                    "label", "src", "dst",
                    _c91_sqd(F.col("sv"), F.col("dv")).alias("d"),
                )
            )

        def sink_batch(batch_df: DataFrame, _eid: int) -> None:
            if batch_df.isEmpty():
                # empty tombstone half at tiny SFs: no epoch to read
                return
            ep = int(batch_df.agg(F.min("epoch")).first()[0])
            if ep == 0:
                nodes = quant(batch_df).localCheckpoint(eager=False)
                adj = topm(pair_job(nodes, nodes))
                n_del, n_aff = 0, 0
            else:
                tomb = batch_df.select(
                    F.col("vec_id").cast("bigint").alias("vec_id")
                ).localCheckpoint(eager=False)
                n_del = tomb.count()
                prev_nodes = spark.read.parquet(holder["nodes"])
                prev = spark.read.parquet(holder["edges"])
                nodes = prev_nodes.join(
                    F.broadcast(tomb), "vec_id", "left_anti"
                ).localCheckpoint(eager=False)  # repair + next epoch
                # survivors whose lists lost a member to this batch
                surviving_edges = prev.join(
                    F.broadcast(tomb.withColumnRenamed("vec_id", "src")),
                    "src",
                    "left_anti",
                ).localCheckpoint(eager=False)  # affected + untouched
                aff = (
                    surviving_edges.join(
                        F.broadcast(
                            tomb.withColumnRenamed("vec_id", "dst")
                        ),
                        "dst",
                    )
                    .select("src")
                    .distinct()
                    .localCheckpoint(eager=False)  # count + two prunes
                )
                n_aff = aff.count()
                repaired = topm(
                    pair_job(
                        nodes.join(
                            F.broadcast(
                                aff.withColumnRenamed("src", "vec_id")
                            ),
                            "vec_id",
                        ),
                        nodes,
                    )
                )
                untouched = surviving_edges.join(
                    F.broadcast(aff), "src", "left_anti"
                ).select("label", "src", "dst", "d")
                adj = untouched.unionByName(repaired)
            newe = os.path.join(work, f"edges_{ep}")
            adj.write.parquet(newe)
            holder["edges"] = newe
            newn = os.path.join(work, f"nodes_{ep}")
            nodes.write.parquet(newn)
            holder["nodes"] = newn
            state = spark.read.parquet(newe)
            cum = state.count()
            chk = (
                state.agg(
                    F.sum(F.col("src") * 100003 + F.col("dst"))
                ).first()[0]
                or 0
            )
            spark.createDataFrame(
                [(ep, n_del, n_aff, cum, int(chk))],
                "epoch BIGINT, n_deleted BIGINT, n_affected BIGINT,"
                " edges_after BIGINT, edge_checksum BIGINT",
            ).write.mode("append").parquet(report)

        q = (
            stream.writeStream.foreachBatch(sink_batch)
            .option("checkpointLocation", _scratch("ips_stream_gdck_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # SIZE GUARD: |epochs| rows, collected because the scratch
        # dirs are deleted in finally (p49's literal-result rule)
        rows = sorted(
            tuple(int(x) for x in r)
            for r in spark.read.parquet(report).collect()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "epoch BIGINT, n_deleted BIGINT, n_affected BIGINT,"
        " edges_after BIGINT, edge_checksum BIGINT",
    ).orderBy("epoch")
