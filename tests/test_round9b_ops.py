"""Round-9b operator semantics: quantized Lloyd k-means (c54), the
vocab growth curve (c55), length-bucketed batch packing (c56), and the
hashed linear classifier (c57). Oracle parity is covered by
test_correctness's registry-wide parametrization; these pin the
algorithmic invariants an oracle diff alone would not localize —
Lloyd's monotone objective, Heaps'-curve monotonicity, batch-size and
padding bounds, and the classifier's score/label consistency."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iceberg_playground_spark import registry

registry.load_all()

from tests.conftest import SF_CHECK  # noqa: E402


# --- c54 quantized Lloyd ----------------------------------------------------


def test_qdf_source_bytes_sums_a_directory_backed_table(tmp_path):
    from iceberg_playground_spark.queries.round9b import _qdf_source_bytes

    assert _qdf_source_bytes(str(tmp_path)) == 0  # missing: cache off
    src = tmp_path / "embeddings.parquet"
    src.write_bytes(b"x" * 10)
    assert _qdf_source_bytes(str(tmp_path)) == 10  # a single file
    src.unlink()
    (src / "day=1").mkdir(parents=True)
    (src / "part-0.parquet").write_bytes(b"x" * 300)
    (src / "day=1" / "part-1.parquet").write_bytes(b"x" * 700)
    assert _qdf_source_bytes(str(tmp_path)) == 1000  # not the inode


def test_c54_all_vecs_assigned_valid_clusters(spark):
    df = registry.QUERIES["c54_kmeans_lloyd"](spark, SF_CHECK)
    rows = df.collect()
    assert len(rows) == 500  # every vector, exactly once
    assert all(0 <= r["cluster_id"] < 8 for r in rows)
    assert all(r["sq_dist"] >= 0 for r in rows)


def test_c54_lloyd_objective_never_increases(spark):
    # the defining Lloyd invariant: total within-cluster cost after
    # pass 3 (post two centroid updates) <= cost at pass 1 (seeds).
    # Quantization (floor on centroids) can only perturb by O(1) per
    # dim, far below the seed-vs-fitted gap.
    from iceberg_playground_spark.queries.round9b import (
        _C54_K,
        _c54_assign,
        _c54_quantized,
        _c54_update,
    )

    qdf = _c54_quantized(spark, SF_CHECK)
    seeds = sorted(
        qdf.filter(F.col("vec_id") < _C54_K).collect(),
        key=lambda r: r["vec_id"],
    )
    cents = [(int(r["vec_id"]), [int(v) for v in r["q"]]) for r in seeds]
    a1 = _c54_assign(qdf, cents)
    cost1 = a1.agg(F.sum("sq_dist")).collect()[0][0]
    cents2 = _c54_update(a1)
    a2 = _c54_assign(qdf, cents2)
    cost2 = a2.agg(F.sum("sq_dist")).collect()[0][0]
    assert cost2 <= cost1
    # and the update actually moved the centroids off the seeds
    assert cents2 != cents


def test_c54_iterations_refine_not_noop(spark):
    # pass-3 assignment must differ from the seed assignment for at
    # least one vector (seeds are arbitrary corpus rows; if 3 Lloyd
    # passes change nothing, the iteration plumbing is dead code)
    from iceberg_playground_spark.queries.round9b import (
        _C54_K,
        _c54_assign,
        _c54_quantized,
    )

    qdf = _c54_quantized(spark, SF_CHECK)
    seeds = sorted(
        qdf.filter(F.col("vec_id") < _C54_K).collect(),
        key=lambda r: r["vec_id"],
    )
    cents = [(int(r["vec_id"]), [int(v) for v in r["q"]]) for r in seeds]
    seed_assign = {
        r["vec_id"]: r["cluster_id"] for r in _c54_assign(qdf, cents).collect()
    }
    final = {
        r["vec_id"]: r["cluster_id"]
        for r in registry.QUERIES["c54_kmeans_lloyd"](
            spark, SF_CHECK
        ).collect()
    }
    assert final != seed_assign


# --- c55 vocab growth -------------------------------------------------------


@pytest.fixture(scope="module")
def c55_rows(spark):
    return registry.QUERIES["c55_vocab_growth"](spark, SF_CHECK).collect()


def test_c55_cumulative_columns_monotone(c55_rows):
    for a, b in zip(c55_rows, c55_rows[1:]):
        assert b["docs_cum"] > a["docs_cum"]
        assert b["tokens_cum"] > a["tokens_cum"]
        assert b["vocab_cum"] >= a["vocab_cum"]


def test_c55_totals_match_corpus(spark, c55_rows):
    docs = spark.read.parquet(f"{SF_CHECK}/documents.parquet")
    last = c55_rows[-1]
    assert last["docs_cum"] == docs.count()
    total_tok = docs.select(
        F.sum(F.size(F.split("text", " "))).alias("t")
    ).collect()[0]["t"]
    assert last["tokens_cum"] == total_tok
    vocab = docs.select(
        F.explode(F.split("text", " ")).alias("tok")
    ).distinct().count()
    assert last["vocab_cum"] == vocab


def test_c55_ttr_falls_as_corpus_grows(c55_rows):
    # Heaps' law on any natural-ish corpus: type/token ratio of the
    # prefix shrinks as the prefix grows (vocab saturates sublinearly)
    assert c55_rows[-1]["ttr_micro"] < c55_rows[0]["ttr_micro"]


# --- c56 length-bucketed batches -------------------------------------------


@pytest.fixture(scope="module")
def c56_rows(spark):
    return registry.QUERIES["c56_length_bucket_batches"](
        spark, SF_CHECK
    ).collect()


def test_c56_batch_and_padding_bounds(c56_rows):
    from iceberg_playground_spark.queries.round9b import _C56_BATCH

    for r in c56_rows:
        assert 1 <= r["n_docs"] <= _C56_BATCH
        assert r["max_tok"] <= r["bucket"]  # bucket is a capacity
        assert 0 <= r["pad_to_max"] <= r["pad_to_bucket"]
        assert (
            r["pad_to_bucket"]
            == r["bucket"] * r["n_docs"] - r["tok_sum"]
        )


def test_c56_covers_every_document(spark, c56_rows):
    docs = spark.read.parquet(f"{SF_CHECK}/documents.parquet")
    assert sum(r["n_docs"] for r in c56_rows) == docs.count()


def test_c56_longest_first_beats_naive_padding(spark, c56_rows):
    # the point of the operator: longest-first within (bucket, shard)
    # packs near-equal lengths together, so pad-to-max across all
    # batches undercuts what naive ingest-order batching would pay
    docs = spark.read.parquet(f"{SF_CHECK}/documents.parquet").select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tok")
    )
    from pyspark.sql.window import Window as W

    from iceberg_playground_spark.queries.round9b import _C56_BATCH

    naive = (
        docs.withColumn(
            "batch_id",
            F.floor(
                (F.row_number().over(W.orderBy("doc_id")) - 1) / _C56_BATCH
            ),
        )
        .groupBy("batch_id")
        .agg(
            (F.max("n_tok") * F.count("*") - F.sum("n_tok")).alias("pad")
        )
        .agg(F.sum("pad"))
        .collect()[0][0]
    )
    bucketed = sum(r["pad_to_max"] for r in c56_rows)
    assert bucketed < naive


# --- c57 hashed classifier --------------------------------------------------


def test_c57_score_label_consistent_and_weights_bounded(spark):
    rows = registry.QUERIES["c57_hashed_classifier_apply"](
        spark, SF_CHECK
    ).collect()
    assert len(rows) == 500
    for r in rows:
        assert r["label"] == (1 if r["score_cc"] > 0 else 0)
        # |weight| <= 98 centi-units per token bounds the doc score
        assert abs(r["score_cc"]) <= 98 * r["n_tok"]


def test_c57_matches_python_reference_on_sample(spark):
    import hashlib

    from iceberg_playground_spark.queries.round9b import _C57_D, _C57_P

    docs = (
        spark.read.parquet(f"{SF_CHECK}/documents.parquet")
        .filter(F.col("doc_id") < 5)
        .collect()
    )
    got = {
        r["doc_id"]: r["score_cc"]
        for r in registry.QUERIES["c57_hashed_classifier_apply"](
            spark, SF_CHECK
        )
        .filter(F.col("doc_id") < 5)
        .collect()
    }
    for d in docs:
        want = sum(
            int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
            % _C57_D
            % _C57_P
            - 98
            for t in d["text"].split(" ")
        )
        assert got[d["doc_id"]] == want


# --- p29 Gopher rules ---------------------------------------------------


def test_p29_flags_vary_and_pass_is_conjunction(spark):
    rows = registry.QUERIES["p29_gopher_quality_rules"](
        spark, SF_CHECK
    ).collect()
    assert len(rows) == 500
    for col in ("wc_ok", "mlen_ok", "stop_ok", "topmass_ok"):
        vals = {r[col] for r in rows}
        assert vals == {0, 1}, f"{col} carries no signal"
    for r in rows:
        assert r["pass"] == (
            r["wc_ok"] & r["mlen_ok"] & r["stop_ok"] & r["topmass_ok"]
        )


def test_p29_rules_match_python_reference_on_sample(spark):
    from iceberg_playground_spark.queries.round9c import (
        _P29_ML_HI10,
        _P29_ML_LO10,
        _P29_STOP_MIN,
        _P29_STOPS,
        _P29_TOP_PCT10,
        _P29_WC_HI,
        _P29_WC_LO,
    )

    docs = (
        spark.read.parquet(f"{SF_CHECK}/documents.parquet")
        .filter(F.col("doc_id") < 10)
        .collect()
    )
    got = {
        r["doc_id"]: r
        for r in registry.QUERIES["p29_gopher_quality_rules"](
            spark, SF_CHECK
        )
        .filter(F.col("doc_id") < 10)
        .collect()
    }
    from collections import Counter

    for d in docs:
        words = d["text"].split(" ")
        n, s = len(words), sum(len(w) for w in words)
        top = Counter(words).most_common(1)[0][1]
        stops = sum(w in _P29_STOPS for w in words)
        r = got[d["doc_id"]]
        assert r["wc_ok"] == int(_P29_WC_LO <= n <= _P29_WC_HI)
        assert r["mlen_ok"] == int(
            _P29_ML_LO10 * n <= 10 * s <= _P29_ML_HI10 * n
        )
        assert r["stop_ok"] == int(stops >= _P29_STOP_MIN)
        assert r["topmass_ok"] == int(10 * top < _P29_TOP_PCT10 * n)


# --- c58 count-min sketch -----------------------------------------------


def test_c58_estimate_dominates_exact_never_under(spark):
    rows = registry.QUERIES["c58_countmin_heavy_hitters"](
        spark, SF_CHECK
    ).collect()
    assert len(rows) == 10
    for r in rows:
        # THE count-min guarantee: never an underestimate
        assert r["cms_est"] >= r["exact_cnt"]
        assert r["overcount"] == r["cms_est"] - r["exact_cnt"]
    # undersized demo geometry must make collisions visible
    assert any(r["overcount"] > 0 for r in rows)


def test_c58_estimate_matches_python_cms(spark):
    import hashlib
    from collections import Counter

    from iceberg_playground_spark.queries.round9c import _C58_D, _C58_W

    docs = spark.read.parquet(f"{SF_CHECK}/documents.parquet").collect()
    toks = [t for d in docs for t in d["text"].split(" ")]
    cms = [Counter() for _ in range(_C58_D)]

    def cell(j, t):
        return (
            int(hashlib.md5(f"s{j}:{t}".encode()).hexdigest()[:8], 16)
            % _C58_W
        )

    for t in toks:
        for j in range(_C58_D):
            cms[j][cell(j, t)] += 1
    got = registry.QUERIES["c58_countmin_heavy_hitters"](
        spark, SF_CHECK
    ).collect()
    for r in got:
        want = min(cms[j][cell(j, r["token"])] for j in range(_C58_D))
        assert r["cms_est"] == want


# --- p30 token-budget fill ------------------------------------------------


def test_p30_fill_never_overshoots_budget(spark):
    rows = registry.QUERIES["p30_token_budget_fill"](
        spark, SF_CHECK
    ).collect()
    assert rows
    for r in rows:
        assert r["tokens_taken"] <= r["budget_tok"]
        assert 0 < r["docs_taken"]
        assert 0 < r["fill_micro"] <= 1000000


def test_p30_greedy_prefix_is_maximal(spark):
    # adding the FIRST rejected doc (stamp order) must overshoot —
    # i.e. the cut is the longest budget-feasible prefix, not merely
    # a feasible one
    from iceberg_playground_spark.queries._util import load

    d = (
        load(spark, SF_CHECK, "documents")
        .select(
            "doc_id",
            "source",
            F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
            F.conv(
                F.md5(F.col("doc_id").cast("string")).substr(1, 8), 16, 10
            )
            .cast("bigint")
            .alias("stamp"),
        )
        .collect()
    )
    by_src = {}
    for r in d:
        by_src.setdefault(r["source"], []).append(r)
    rows = registry.QUERIES["p30_token_budget_fill"](
        spark, SF_CHECK
    ).collect()
    for r in rows:
        docs = sorted(
            by_src[r["source"]], key=lambda x: (x["stamp"], x["doc_id"])
        )
        cum = 0
        taken = 0
        for x in docs:
            if cum + x["n_tok"] <= r["budget_tok"]:
                cum += x["n_tok"]
                taken += 1
            else:
                break
        assert taken == r["docs_taken"]
        assert cum == r["tokens_taken"]


# --- b156 skyline ---------------------------------------------------------


def test_b156_equals_brute_force_definition(spark):
    # the grid-pruned algorithm must equal the textbook NOT EXISTS
    # definition of the skyline, computed brute-force in Python
    parts = spark.read.parquet(f"{SF_CHECK}/part.parquet").select(
        "p_partkey", "p_retailprice", "p_size"
    ).collect()
    from decimal import Decimal

    pts = [
        (
            r["p_partkey"],
            int(
                (
                    Decimal(str(r["p_retailprice"])).quantize(
                        Decimal("0.01")
                    )
                )
                * 100
            ),
            int(r["p_size"]),
        )
        for r in parts
    ]
    def dominated(a):
        # min price, MAX size: b dominates a iff b is no pricier, no
        # smaller, and strictly better somewhere
        return any(
            b[1] <= a[1]
            and b[2] >= a[2]
            and (b[1] < a[1] or b[2] > a[2])
            for b in pts
        )

    want = sorted((p[0], p[1], p[2]) for p in pts if not dominated(p))
    got = sorted(
        (r["p_partkey"], r["price_cc"], r["p_size"])
        for r in registry.QUERIES["b156_skyline"](spark, SF_CHECK).collect()
    )
    assert got == want


def test_b156_skyline_is_antichain(spark):
    # no skyline member may dominate another (mutual non-domination)
    rows = registry.QUERIES["b156_skyline"](spark, SF_CHECK).collect()
    assert rows
    for a in rows:
        for b in rows:
            if a["p_partkey"] == b["p_partkey"]:
                continue
            assert not (
                a["price_cc"] <= b["price_cc"]
                and a["p_size"] >= b["p_size"]
                and (
                    a["price_cc"] < b["price_cc"]
                    or a["p_size"] > b["p_size"]
                )
            )


# --- c59 source KL divergence ----------------------------------------------


def test_c59_matrix_complete_and_nonnegative_up_to_rounding(spark):
    from iceberg_playground_spark.queries.round9d import _C59_B

    rows = registry.QUERIES["c59_source_kl_divergence"](
        spark, SF_CHECK
    ).collect()
    srcs = {r["src_a"] for r in rows} | {r["src_b"] for r in rows}
    assert len(rows) == len(srcs) * (len(srcs) - 1)  # full off-diagonal
    for r in rows:
        # KL >= 0 in exact arithmetic. Kernel error model: each kernel
        # output is off by at most the 693147-vs-ln(2)*1e6 constant
        # truncation (0.1806/2^21 per fixed-point unit, <= 8.5 micro at
        # the 2^47 domain edge) + fraction truncation (< 0.34) + final
        # rounding (0.5) < 9.4 micro; a term's (kb - ka) difference
        # carries at most 2x that, weighted by pa with sum(pa) = 1,
        # plus 0.5 micro of half-away term rounding per bucket. So
        # kl_micro >= -(B/2 + 19) >= -147; -B keeps headroom.
        assert r["kl_micro"] >= -_C59_B


def test_c59_matches_python_reference_one_pair(spark):
    import hashlib
    import math
    from collections import Counter

    from iceberg_playground_spark.queries._util import int_ln_micro_py
    from iceberg_playground_spark.queries.round9d import _C59_B

    docs = spark.read.parquet(f"{SF_CHECK}/documents.parquet").collect()
    srcs = sorted({d["source"] for d in docs})[:2]
    cnt = {s: Counter() for s in srcs}
    for d in docs:
        if d["source"] in cnt:
            for tok in d["text"].split(" "):
                b = (
                    int(hashlib.md5(tok.encode()).hexdigest()[:8], 16)
                    % _C59_B
                )
                cnt[d["source"]][b] += 1
    a, b = srcs
    ta, tb = sum(cnt[a].values()), sum(cnt[b].values())
    # bit-exact replay of the query's arithmetic: kernel ints for the
    # two smoothed lns, IEEE-double pa weighting of the integer
    # difference, half-away-from-zero term rounding (Spark F.round /
    # DuckDB round; python round() is banker's so it can't be used)
    want = 0
    for bkt in range(_C59_B):
        ka = int_ln_micro_py(cnt[a][bkt] + 1, ta + _C59_B)
        kb = int_ln_micro_py(cnt[b][bkt] + 1, tb + _C59_B)
        x = ((cnt[a][bkt] + 1) / (ta + _C59_B)) * (kb - ka)
        want += (
            math.floor(x + 0.5) if x >= 0 else math.ceil(x - 0.5)
        )
    got = {
        (r["src_a"], r["src_b"]): r["kl_micro"]
        for r in registry.QUERIES["c59_source_kl_divergence"](
            spark, SF_CHECK
        ).collect()
    }[(a, b)]
    assert got == want


# --- c60 Good-Turing audit --------------------------------------------------


def test_c60_matches_python_reference(spark):
    from collections import Counter

    docs = spark.read.parquet(f"{SF_CHECK}/documents.parquet").collect()
    by_src = {}
    for d in docs:
        by_src.setdefault(d["source"], []).extend(d["text"].split(" "))
    got = {
        r["source"]: r
        for r in registry.QUERIES["c60_good_turing_audit"](
            spark, SF_CHECK
        ).collect()
    }
    assert set(got) == set(by_src)
    for s, toks in by_src.items():
        c = Counter(toks)
        n1 = sum(1 for v in c.values() if v == 1)
        n2 = sum(1 for v in c.values() if v == 2)
        r = got[s]
        assert r["vocab"] == len(c)
        assert r["n_tokens"] == len(toks)
        assert r["n1"] == n1 and r["n2"] == n2
        import math

        assert r["unseen_mass_micro"] == math.floor(1e6 * n1 / len(toks))
        want_r1 = math.floor(1e6 * 2 * n2 / n1) if n1 > 0 else 0
        assert r["r1_discounted_micro"] == want_r1


# --- c61 token entropy --------------------------------------------------


def test_c61_matches_python_reference(spark):
    import math
    from collections import Counter

    from iceberg_playground_spark.queries._util import int_ln_micro_py

    docs = (
        spark.read.parquet(f"{SF_CHECK}/documents.parquet")
        .filter(F.col("doc_id") < 20)
        .collect()
    )
    got = {
        r["doc_id"]: r
        for r in registry.QUERIES["c61_token_entropy"](spark, SF_CHECK)
        .filter(F.col("doc_id") < 20)
        .collect()
    }
    for d in docs:
        toks = d["text"].split(" ")
        c = Counter(toks)
        n = len(toks)
        # bit-exact replay: each term is c * kernel(c, n) in exact
        # integer arithmetic, entropy = floor(double(h_num) / n)
        h_num = sum(v * int_ln_micro_py(v, n) for v in c.values())
        r = got[d["doc_id"]]
        assert r["n_tok"] == n and r["vocab"] == len(c)
        entropy = math.floor(h_num / n)
        assert r["entropy_micro"] == entropy
        if len(c) == 1:
            assert r["efficiency_micro"] == 0
        else:
            lnv = int_ln_micro_py(1, len(c))
            assert r["efficiency_micro"] == math.floor(
                1000000.0 * entropy / lnv
            )


def test_c61_entropy_bounded_by_log_vocab(spark):
    rows = registry.QUERIES["c61_token_entropy"](spark, SF_CHECK).collect()
    import math

    assert len(rows) == 500
    for r in rows:
        assert 0 <= r["entropy_micro"] <= 1e6 * math.log(r["vocab"]) + 1e3
        assert 0 <= r["efficiency_micro"] <= 1000000 + 1000


def test_b156_skyline_property_random_points(spark, tmp_path):
    # the grid-prune + exact-pass algorithm must equal the brute-force
    # definition on ARBITRARY point sets, not just the shipped part
    # table — duplicates, single-bucket pile-ups, ties on both dims
    import random

    rng = random.Random(42)
    for case in range(4):
        n = [1, 7, 120, 400][case]
        rows = [
            (
                i,
                # cluster prices to stress same-bucket and same-price
                # ties; case 2 piles everything into ONE grid bucket
                900.0 + (rng.randrange(0, 100) if case != 2 else 0)
                + rng.randrange(0, 100) / 100.0,
                rng.randrange(1, 51),
            )
            for i in range(n)
        ]
        df = spark.createDataFrame(
            rows, "p_partkey long, p_retailprice double, p_size int"
        ).withColumn("p_name", F.lit("x")).withColumn(
            "p_brand", F.lit("x")
        ).withColumn("p_type", F.lit("x"))
        d = str(tmp_path / f"case{case}")
        df.coalesce(1).write.parquet(f"{d}/part.parquet")
        got = sorted(
            (r["p_partkey"], r["price_cc"], r["p_size"])
            for r in registry.QUERIES["b156_skyline"](spark, d).collect()
        )
        pts = [(k, round(p * 100), s) for k, p, s in rows]
        want = sorted(
            a
            for a in pts
            if not any(
                b[1] <= a[1]
                and b[2] >= a[2]
                and (b[1] < a[1] or b[2] > a[2])
                for b in pts
            )
        )
        assert got == want, f"case {case}: {got} != {want}"


# --- p31 n-gram leakage audit -----------------------------------------------


def test_p31_matches_python_reference(spark):
    from iceberg_playground_spark.queries._util import hash_bucket
    from iceberg_playground_spark.queries.round9d import _P31_TEST_FROM

    docs = spark.read.parquet(f"{SF_CHECK}/documents.parquet").select(
        "doc_id", "lang", "text",
        hash_bucket(F.col("doc_id")).alias("bkt"),
    ).collect()

    def sh4(text):
        t = text.split(" ")
        return {
            " ".join(t[i : i + 4]) for i in range(len(t) - 3)
        } if len(t) >= 4 else set()

    train = set()
    for d in docs:
        if d["bkt"] < _P31_TEST_FROM:
            train |= sh4(d["text"])
    want = {}
    for d in docs:
        if d["bkt"] >= _P31_TEST_FROM:
            s = sh4(d["text"])
            dirty = len(s & train)
            w = want.setdefault(d["lang"], [0, 0, 0, 0])
            w[0] += 1
            w[1] += 1 if dirty else 0
            w[2] += len(s)
            w[3] += dirty
    got = {
        r["lang"]: r
        for r in registry.QUERIES["p31_ngram_leakage_audit"](
            spark, SF_CHECK
        ).collect()
    }
    assert set(got) == set(want)
    for lang, (n, nd, ts, ds) in want.items():
        r = got[lang]
        assert (r["n_test_docs"], r["n_dirty_docs"]) == (n, nd)
        assert (r["test_shingles"], r["dirty_shingles"]) == (ts, ds)


def test_p31_overlap_is_partial_not_degenerate(spark):
    # w=4 must land between the w=3 saturation (everything dirty) and
    # the w=8 void (nothing dirty) — the audit only means something
    # if both clean and dirty test shingles exist
    rows = registry.QUERIES["p31_ngram_leakage_audit"](
        spark, SF_CHECK
    ).collect()
    assert sum(r["dirty_shingles"] for r in rows) > 0
    assert any(r["dirty_shingles"] < r["test_shingles"] for r in rows)


# --- c62 containment detection ----------------------------------------------


def test_c62_containment_matches_python_brute_force(spark):
    # exact containment over digested trigram shingles, brute-forced
    # in Python with the same df cap — the inverted-index join must
    # find exactly the definition's pairs
    import hashlib
    from collections import Counter

    from iceberg_playground_spark.queries.round9d import (
        _C62_DF_CAP,
        _C62_MIN_MICRO,
    )

    docs = spark.read.parquet(f"{SF_CHECK}/documents.parquet").collect()

    def shingles(text):
        t = text.split(" ")
        return {
            " ".join(t[i : i + 3]) for i in range(len(t) - 2)
        } if len(t) >= 3 else set()

    def dg(sh):
        return int(hashlib.md5(sh.encode()).hexdigest()[:8], 16)

    sh = {d["doc_id"]: {dg(s) for s in shingles(d["text"])} for d in docs}
    df = Counter(g for s in sh.values() for g in s)
    kept = {k: {g for g in v if df[g] <= _C62_DF_CAP} for k, v in sh.items()}
    import math

    want = set()
    for a, sa in kept.items():
        if not sh[a]:
            continue
        for b, sb in kept.items():
            if a == b:
                continue
            inter = len(sa & sb)
            if inter and math.floor(
                1e6 * inter / len(sh[a])
            ) >= _C62_MIN_MICRO:
                want.add((a, b, inter, len(sh[a])))
    got = {
        (r["a_id"], r["b_id"], r["inter"], r["a_sh"])
        for r in registry.QUERIES["c62_containment_detect"](
            spark, SF_CHECK
        ).collect()
    }
    assert got == want


def test_c62_bounds_and_per_side_normalization(spark):
    # containment is normalized per SIDE: inter <= a_sh, micro in
    # (0, 1e6], and the two directions of a mutual pair carry their
    # OWN denominators (this corpus' planted dups make most >=50%
    # pairs mutual, so one-sided pairs cannot be asserted here)
    rows = registry.QUERIES["c62_containment_detect"](
        spark, SF_CHECK
    ).collect()
    assert rows
    by_pair = {(r["a_id"], r["b_id"]): r for r in rows}
    for r in rows:
        assert 0 < r["inter"] <= r["a_sh"]
        assert 0 < r["contain_micro"] <= 1_000_000
        rev = by_pair.get((r["b_id"], r["a_id"]))
        if rev is not None:
            # same intersection, each side's own shingle count
            assert rev["inter"] == r["inter"]


def test_c54_quantized_cache_knob_both_branches(spark, monkeypatch):
    # VERDICT r16 item 7: the shared quantized frame's input cache is
    # scale-parameterized — OFF below the byte threshold (bench SFs:
    # re-deriving per superstep beats a plan->RDD conversion at this
    # scale, the round-16 A/B), ON above it (deployment scale: 7+
    # corpus re-reads per train loop flip the trade). Pin both
    # branches, plus the repartition that keeps the distance folds off
    # the scan's one-split partitioning, and that rows are identical
    # either way.
    import iceberg_playground_spark.queries.round9b as r9b

    qdf_off = r9b._c54_quantized(spark, SF_CHECK)
    # below threshold (all shipped SFs): lazy frame, no RDD scan node
    plan_off = qdf_off._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" not in plan_off
    assert qdf_off.rdd.getNumPartitions() > 1  # the repartition applied
    monkeypatch.setattr(r9b, "_QDF_CACHE_MIN_BYTES", 1)
    qdf_on = r9b._c54_quantized(spark, SF_CHECK)
    plan_on = qdf_on._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan_on  # the checkpoint barrier
    rows = lambda df: sorted(  # noqa: E731
        (int(r["vec_id"]), tuple(int(v) for v in r["q"]))
        for r in df.collect()
    )
    assert rows(qdf_off) == rows(qdf_on)
