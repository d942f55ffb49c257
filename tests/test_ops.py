"""Tests for dedup / similarity / textstats operators, incl. the LSH-vs-exact
verification that gates the rows-only catalog entries."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as sf

from br_doc_ocr_spark.ops import dedup, similarity, textstats


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog near the river bank"),
        (1, "the quick brown fox jumps over the lazy dog near the river bend"),  # near-dup of 0
        (2, "completely different content about spark query engines and shuffles"),
        (3, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 0
        (4, "el rapido zorro marron salta sobre el perro perezoso junto al rio"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ngram_jaccard_pairs(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in dedup.ngram_jaccard_pairs(docs).collect()}
    assert (0, 3) in pairs and pairs[(0, 3)] == 1.0     # exact dup
    assert (0, 1) in pairs and 0.5 <= pairs[(0, 1)] < 1  # near dup
    assert not any({a, b} & {2} and {a, b} & {0, 1, 3} for a, b in pairs)


def test_minhash_lsh_finds_what_exact_jaccard_finds(docs):
    """LSH candidates + verify must reproduce the exact O(n²) result for
    high-similarity pairs (the standard banding guarantee at s≥0.5 with
    32 hashes / 8 bands is ~1-(1-0.5^4)^8 ≈ 0.42 per pair — so assert on the
    exact-dup pair, and near-dup recall on this corpus specifically)."""
    exact = {(r["id_a"], r["id_b"])
             for r in dedup.ngram_jaccard_pairs(docs).collect()}
    lsh = {(r["id_a"], r["id_b"])
           for r in dedup.minhash_near_duplicates(docs, threshold=0.5).collect()}
    assert (0, 3) in lsh             # identical docs always collide
    # near-dup recall: the (0,1)/(1,3) one-word-changed pairs (jaccard ≈0.83)
    # are deterministically found with the fixed xxhash64 seeds — an LSH
    # regression that only collides byte-identical docs must fail here
    assert {(0, 1), (1, 3)} <= lsh
    assert lsh <= exact              # verify step guarantees no false positives


def test_minhash_est_similarity_for_identical_docs(docs):
    cands = dedup.minhash_lsh_candidates(docs).collect()
    est = {(r["id_a"], r["id_b"]): r["est_similarity"] for r in cands}
    assert est[(0, 3)] == 1.0


def test_simhash_near_duplicates(docs):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in dedup.simhash_near_duplicates(docs, max_hamming=3).collect()}
    assert pairs[(0, 3)] == 0        # identical → identical signature
    assert all(h <= 3 for h in pairs.values())


def _simhash64_py(text: str) -> int:
    """Independent scalar model of the column-expression SimHash: XXH64
    (seed 42 — Spark's xxhash64) token hashes via the pure-Python spec model
    from test_duckdb_xxh64, per-bit majority vote, signed two's-complement."""
    from test_duckdb_xxh64 import xxh64

    tokens = text.lower().split()
    if not tokens:
        return 0
    votes = [0] * 64
    for tok in tokens:
        h = xxh64(tok.encode()) & ((1 << 64) - 1)
        for i in range(64):
            votes[i] += (h >> i) & 1
    out = sum(1 << i for i in range(64) if votes[i] * 2 > len(tokens))
    return out - (1 << 64) if out >= (1 << 63) else out


def test_simhash_signatures_match_python_model(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),
        (2, "astronomia quantica nas montanhas geladas"),
        (3, "  weird   Whitespace\tand\nnewlines  "),
        (4, ""),            # tokenless → 0
        (5, "   "),         # whitespace-only → 0
        (6, "único"),       # non-ASCII UTF-8 token
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: r["simhash"]
           for r in dedup.simhash_signatures(df).collect()}
    assert got == {i: _simhash64_py(t) for i, t in rows}


def test_simhash_repeated_tokens_weighted_exactly(spark):
    """The r05 token pre-aggregation weights lane votes by the duplicate
    count — a heavily repetitive doc (the case the optimization collapses)
    must still match the instance-level Python model exactly."""
    rows = [
        (0, "spam " * 500 + "ham eggs " * 120 + "unique closing sentence"),
        (1, ("the the the quick quick brown fox fox fox fox " * 40).strip()),
        (2, "no repeats here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: r["simhash"]
           for r in dedup.simhash_signatures(df).collect()}
    assert got == {i: _simhash64_py(t) for i, t in rows}


def test_simhash_overflow_guard_raises_over_capacity(spark):
    """A document over salt_buckets·32767 tokens must raise the lane-
    capacity error (loud guard, never silent lane corruption) — and one
    just under the cap must succeed with exact values. salt_buckets=1
    keeps the boundary cheap to synthesize."""
    from pyspark.errors import PySparkException

    over = " ".join(f"t{i % 97}" for i in range(32768))
    df = spark.createDataFrame([(0, over)], "doc_id long, text string")
    with pytest.raises(PySparkException, match="simhash vote lanes overflow"):
        dedup.simhash_signatures(df, salt_buckets=1).collect()

    # the single-hot-token shape: ONE distinct token repeated past the lane
    # cap makes the _cnt-weighted product itself overflow int64 — under
    # ANSI that used to raise a generic ARITHMETIC_OVERFLOW before the
    # named guard could evaluate (review r05); try_multiply/try_sum must
    # route it to the same named error as the distinct-token shape
    hot = "spam " * 32768
    df_hot = spark.createDataFrame([(7, hot)], "doc_id long, text string")
    with pytest.raises(PySparkException, match="simhash vote lanes overflow"):
        dedup.simhash_signatures(df_hot, salt_buckets=1).collect()

    under = " ".join(f"t{i % 97}" for i in range(32767))
    df_ok = spark.createDataFrame([(0, under)], "doc_id long, text string")
    [row] = dedup.simhash_signatures(df_ok, salt_buckets=1).collect()
    assert row["simhash"] == _simhash64_py(under)


def test_simhash_is_locality_sensitive():
    a = _simhash64_py("the quick brown fox jumps over the lazy dog")
    b = _simhash64_py("the quick brown fox jumps over the lazy cat")
    c = _simhash64_py("astronomia quantica nas montanhas geladas")
    ham_ab = bin((a ^ b) & ((1 << 64) - 1)).count("1")
    ham_ac = bin((a ^ c) & ((1 << 64) - 1)).count("1")
    assert ham_ab < ham_ac


# --- similarity --------------------------------------------------------------

@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),   # close to 0
        (2, [0.0, 1.0, 0.0, 0.0]),   # orthogonal
        (3, [-1.0, 0.0, 0.0, 0.0]),  # opposite
        (4, [1.0, 0.05, 0.0, 0.0]),  # closest to 0
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_cosine_topk_exact(vectors):
    top = similarity.cosine_topk(vectors, [1.0, 0.0, 0.0, 0.0], k=3).collect()
    assert [r["vec_id"] for r in top] == [0, 4, 1]
    assert top[0]["cosine"] == 1.0
    expected = 0.9 / math.sqrt(0.81 + 0.01)
    assert top[2]["cosine"] == pytest.approx(expected, abs=1e-6)


def test_cosine_nan_corpus_vector_is_quarantined_not_first(spark):
    """One corrupted embedding (NaN component) must NOT rank first: NaN
    compares greater than every double in Spark, so an unguarded cosine put
    the garbage vector at the top of every desc top-k and through every
    >= threshold filter (review r05). NaN scores map to NULL — sorted last,
    failing thresholds."""
    rows = [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [float("nan"), 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    top = similarity.cosine_topk(df, [1.0, 0.0], k=3).collect()
    assert [r["vec_id"] for r in top] == [0, 1, 2]
    assert top[2]["cosine"] is None
    pairs = similarity.cosine_near_duplicates(df, threshold=0.9, n_bits=2)
    assert all(r["id_a"] != 2 and r["id_b"] != 2 for r in pairs.collect())


def test_cosine_dimension_mismatch_raises(spark):
    """A query probed against a different-dimension corpus must fail loudly
    (zip_with NULL-pads otherwise, yielding an arbitrary NULL-scored
    'top-k' — review r05); same contract for the int8 probe."""
    from pyspark.errors import PySparkException

    df = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0])], "vec_id long, embedding array<double>")
    with pytest.raises(PySparkException, match="dimension mismatch"):
        similarity.cosine_topk(df, [1.0, 0.0], k=1).collect()
    with pytest.raises(PySparkException, match="index dimension"):
        similarity.cosine_topk_int8(df, [1.0, 0.0], k=1).collect()


def test_knn_join_per_query_topk(vectors):
    queries = vectors.filter(sf.col("vec_id") < 2).select(
        sf.col("vec_id").alias("q_id"), "embedding")
    out = similarity.knn_join(queries, vectors, k=2).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["q_id"], []).append(r["vec_id"])
    assert by_q[0] == [0, 4]
    # for q=1, vec 4 ([1,0.05]) is angularly closer than vec 0 ([1,0])
    assert by_q[1] == [1, 4]


def test_ivf_topk_prunes_to_query_cell(vectors):
    # single-probe (probe_hamming=0), quantizer bit i set iff dim i > 0:
    # [1,0,0,0] → bucket 1 (only vec 0); [1,0.05,0,0] → bucket 3 (vecs 1, 4)
    out = similarity.ivf_topk(vectors, [1.0, 0.0, 0.0, 0.0], k=10, n_bits=4,
                              probe_hamming=0)
    assert {r["vec_id"] for r in out.collect()} == {0}
    out = similarity.ivf_topk(vectors, [1.0, 0.05, 0.0, 0.0], k=10, n_bits=4,
                              probe_hamming=0)
    assert {r["vec_id"] for r in out.collect()} == {1, 4}
    # default multi-probe widens bucket 1 to its Hamming-1 neighbors
    # {0,3,5,9}: bucket 3 holds vecs 1 and 4, bucket 0 holds vec 3
    out = similarity.ivf_topk(vectors, [1.0, 0.0, 0.0, 0.0], k=10, n_bits=4)
    assert {0, 1, 4} <= {r["vec_id"] for r in out.collect()}


def test_knn_join_two_stage_matches_single_window(spark):
    """The two-stage partial top-k must be result-identical to the naive
    single-window form on a corpus spread over many partitions (strict
    total order ⇒ partition-local top-k contains every global top-k row)."""
    import random

    from pyspark.sql import Window

    random.seed(7)
    rows = [(i, [random.uniform(-1, 1) for _ in range(8)]) for i in range(400)]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>").repartition(16)
    queries = spark.createDataFrame(
        rows[:5], "q_id long, embedding array<double>")
    got = sorted(
        (r["q_id"], r["rank"], r["vec_id"], r["cosine"])
        for r in similarity.knn_join(queries, corpus, k=7).collect())
    q = queries.select("q_id", sf.col("embedding").alias("qv"))
    c = corpus.select("vec_id", sf.col("embedding").alias("cv"))
    w = Window.partitionBy("q_id").orderBy(sf.desc("cosine"), sf.asc("vec_id"))
    naive = (c.join(sf.broadcast(q))
             .select("q_id", "vec_id",
                     sf.round(similarity.cosine(sf.col("cv"), sf.col("qv")), 6)
                     .alias("cosine"))
             .withColumn("rank", sf.row_number().over(w))
             .filter(sf.col("rank") <= 7))
    want = sorted((r["q_id"], r["rank"], r["vec_id"], r["cosine"])
                  for r in naive.collect())
    assert got == want


# --- textstats ---------------------------------------------------------------

def test_token_count_and_punct(spark):
    df = spark.createDataFrame(
        [("one two  three",), ("",), ("a, b! c?",)], "text string")
    rows = df.select(
        textstats.token_count(sf.col("text")).alias("n"),
        textstats.punct_ratio(sf.col("text")).alias("p"),
    ).collect()
    assert [r["n"] for r in rows] == [3, 0, 3]
    assert rows[0]["p"] == 0.0
    assert rows[2]["p"] == pytest.approx(3 / 8, abs=1e-6)


def test_predict_lang(spark):
    df = spark.createDataFrame([
        ("the cat sat on the mat and looked at the dog",),
        ("el perro y el gato de la casa que ladra",),
        ("der hund und die katze sind von das haus",),
        ("xyzzy plugh quux",),
    ], "text string")
    out = [r[0] for r in df.select(textstats.predict_lang("text")).collect()]
    assert out == ["en", "es", "de", "und"]


def test_predict_lang_expected_values(spark):
    """Every language family in the table plus CJK, a code-mixed tie-break,
    empty and stopword-free inputs, each against its expected label."""
    samples = [
        ("the cat sat on the mat and looked at the dog",),
        ("el perro y el gato de la casa que ladra",),
        ("这是 一个 的 测试 文本 我们 和 他们",),
        ("これ は テスト です の ます した",),
        ("것 이 있 하 그 되 수 에서",),
        ("the 的 der die le la und est och att",),  # code-mixed tie-break
        ("",),
        ("xyzzy plugh quux 12345",),
        ("o rato roeu a roupa do rei de roma e não deixou nada para que",),
    ]
    df = spark.createDataFrame(samples, "text string")
    got = [r[0] for r in df.select(textstats.predict_lang("text")).collect()]
    assert got == ["en", "es", "zh", "ja", "ko", "fr", "und", "und", "pt"]


def test_repetition_stats_hand_computed(spark):
    df = spark.createDataFrame([
        # 4 non-blank lines, 'spam' three times → dup_line_frac = 1 - 2/4;
        # chars: all=4+4+4+5=17 distinct='spam'+'clean'=9 → 1-9/17
        ("a", "spam\nspam\n\nspam\nclean"),
        # tokens: the cat sat the cat sat the cat → 6 3-grams, distinct 3
        # ('the cat sat', 'cat sat the', 'sat the cat') → dup = 1 - 3/6
        ("b", "the cat sat the cat sat the cat"),
        ("c", ""),                       # empty → all zeros
        ("d", "unique lines only\nhere"),  # no repeats → 0.0 line fracs
    ], "doc_id string, text string")
    rows = {r["doc_id"]: r for r in
            textstats.repetition_stats(df).collect()}
    assert rows["a"]["dup_line_frac"] == 0.5
    assert rows["a"]["dup_line_char_frac"] == pytest.approx(1 - 9 / 17, abs=1e-6)
    assert rows["b"]["dup_ngram_frac"] == 0.5
    assert rows["c"]["dup_line_frac"] == 0.0
    assert rows["c"]["dup_line_char_frac"] == 0.0
    assert rows["c"]["dup_ngram_frac"] == 0.0
    assert rows["d"]["dup_line_frac"] == 0.0
    assert rows["d"]["dup_line_char_frac"] == 0.0


def test_repetition_stats_is_shuffle_free(spark):
    df = spark.createDataFrame([("a", "x\nx")], "doc_id string, text string")
    plan = textstats.repetition_stats(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_quality_score_ordering(spark):
    df = spark.createDataFrame([
        ("the report of the analysis and the data in the table of results "
         * 6,),                                  # long, stopword-rich
        ("!!! ??? ### $$$ %%%",),                # punctuation garbage
    ], "text string")
    scores = [r[0] for r in df.select(
        textstats.quality_score(sf.col("text"))).collect()]
    assert scores[0] > scores[1]


def test_fingerprint_deterministic(spark):
    df = spark.createDataFrame([(1, "abc"), (2, "abc"), (3, "abd")],
                               "doc_id long, text string")
    rows = textstats.with_fingerprint(df).collect()
    fp = {r["doc_id"]: r["fingerprint"] for r in rows}
    assert fp[1] == fp[2] != fp[3]
    assert fp[1] == textstats._fingerprint_str("abc")


def test_fingerprint_batch_matches_scalar_model():
    """The vectorized block-Horner kernel must be value-identical to the
    scalar spec across block-boundary lengths, unicode, and empties."""
    blk = textstats._FP_BLOCK
    cases = [
        "", "a", "abc", None, 7,            # degenerate / non-string → 0
        "x" * (blk - 1), "x" * blk, "x" * (blk + 1), "y" * (3 * blk + 17),
        "açúcar émoji ✓ 中文 \U0001F600",   # multi-byte + astral codepoint
        "the quick brown fox " * 100,
    ]
    got = textstats._fingerprint_batch(cases)
    want = [textstats._fingerprint_str(c) if isinstance(c, str) else 0
            for c in cases]
    assert got == want


def test_ivf_multiprobe_recall_beats_single_probe(spark):
    """Multi-probe IVF (Hamming-1 neighbor cells) must recover most of the
    brute-force top-k that single-probe misses on the sandbox embeddings
    (measured: 0.1-0.3 single -> 0.6-0.9 multi)."""
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = [float(x) for x in emb.filter("vec_id = 0").select("embedding").first()[0]]
    exact = {r["vec_id"] for r in similarity.cosine_topk(emb, q, 10).collect()}
    single = {r["vec_id"] for r in
              similarity.ivf_topk(emb, q, 10, n_bits=4, probe_hamming=0).collect()}
    multi = {r["vec_id"] for r in
             similarity.ivf_topk(emb, q, 10, n_bits=4, probe_hamming=1).collect()}
    assert len(exact & multi) >= len(exact & single)
    assert len(exact & multi) >= 6  # recall@10 ≥ 0.6 on this fixed corpus


def test_stopword_counts_punctuation_adjacency_and_cjk(spark):
    """Review regressions: split-based counting consumed the shared
    delimiter ('the the' counted once) and required whitespace boundaries
    ('the.' never matched); zh stopwords could never match (no word
    boundaries in Chinese prose); accented letters counted as punctuation."""
    from pyspark.sql import functions as sf

    df = spark.createDataFrame(
        [("the the cat, the.",), ("这是我的书，的的",),
         ("não informação órgão!",)], "text string")
    out = df.select(
        textstats.stopword_hits(sf.col("text"), ("the",)).alias("the_hits"),
        textstats.stopword_hits(sf.col("text"), ("的",)).alias("zh_hits"),
        textstats.punct_ratio(sf.col("text")).alias("punct"),
        textstats.predict_lang("text").alias("lang"),
    ).collect()
    assert out[0]["the_hits"] == 3 and out[0]["lang"] == "en"
    assert out[1]["zh_hits"] == 3 and out[1]["lang"] == "zh"
    assert out[2]["punct"] < 0.1  # only '!' is punctuation, not ã/ç/é


def test_connected_components_labels_and_convergence(spark):
    """Chain, triangle, isolated pair — every node labeled with its
    component's min id; pointer jumping must converge on a 40-node chain
    well inside the iteration budget (a bare neighbor-min would need 39)."""
    pairs = ([(i, i + 1) for i in range(100, 140)]        # long chain
             + [(1, 2), (2, 3), (3, 4)]                   # short chain
             + [(20, 21), (21, 22), (20, 22)]             # triangle
             + [(50, 51)])                                # pair
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {r["id"]: r["comp"]
           for r in dedup.connected_components(df).collect()}
    assert all(got[i] == 100 for i in range(100, 141))
    assert all(got[i] == 1 for i in (1, 2, 3, 4))
    assert all(got[i] == 20 for i in (20, 21, 22))
    assert got[50] == got[51] == 50


def test_drop_near_duplicates_keeps_min_and_untouched(spark):
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(8)], "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(0, 3), (3, 5), (6, 7)], "id_a long, id_b long")
    kept = {r["doc_id"]
            for r in dedup.drop_near_duplicates(docs, pairs).collect()}
    assert kept == {0, 1, 2, 4, 6}  # 3,5 fold into 0; 7 into 6


def test_connected_components_raises_on_budget_exhaustion(spark):
    df = spark.createDataFrame([(i, i + 1) for i in range(16)],
                               "id_a long, id_b long")
    with pytest.raises(RuntimeError):
        dedup.connected_components(df, max_iterations=1)


# --- temporal ----------------------------------------------------------------

def test_asof_join_backward_inclusive(spark):
    from br_doc_ocr_spark.ops import temporal

    left = spark.createDataFrame(
        [(1, 100, "p1"), (1, 205, "p2"), (1, 300, "p3"), (2, 50, "p4")],
        "user_id long, t long, tag string").select(
        "user_id", sf.timestamp_seconds("t").alias("ts"), "tag")
    right = spark.createDataFrame(
        [(1, 100, 10.0), (1, 200, 20.0), (1, 400, 40.0), (3, 10, 99.0)],
        "user_id long, t long, v double").select(
        "user_id", sf.timestamp_seconds("t").alias("ts"), "v")
    out = {r["tag"]: (r["v_asof"],
                      r["ts_asof"].timestamp() if r["ts_asof"] else None)
           for r in temporal.asof_join(left, right,
                                       value_cols=["v"]).collect()}
    assert out["p1"] == (10.0, 100.0)   # equal ts matches (inclusive)
    assert out["p2"] == (20.0, 200.0)   # latest prior, not the later 400
    assert out["p3"] == (20.0, 200.0)
    assert out["p4"] == (None, None)    # no right rows for user 2


def test_asof_join_matches_duckdb_asof(spark):
    """Cross-engine: the union+window formulation equals DuckDB's native
    ASOF LEFT JOIN on a random corpus."""
    import random

    import duckdb

    from br_doc_ocr_spark.ops import temporal

    random.seed(11)
    lrows = [(random.randrange(8), random.randrange(10_000))
             for _ in range(300)]
    rrows = {(random.randrange(8), random.randrange(10_000)): None
             for _ in range(200)}
    rrows = [(u, t, float(u * 100000 + t)) for (u, t) in rrows]
    left = spark.createDataFrame(lrows, "user_id long, t long").select(
        "user_id", sf.timestamp_seconds("t").alias("ts"))
    right = spark.createDataFrame(rrows, "user_id long, t long, v double") \
        .select("user_id", sf.timestamp_seconds("t").alias("ts"), "v")
    got = sorted((r["user_id"], r["ts"].timestamp(), r["v_asof"])
                 for r in temporal.asof_join(left, right,
                                             value_cols=["v"]).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE l AS SELECT * FROM (VALUES "
                + ", ".join(f"({u}, to_timestamp({t}))" for u, t in lrows)
                + ") v(user_id, ts)")
    con.execute("CREATE TABLE r AS SELECT * FROM (VALUES "
                + ", ".join(f"({u}, to_timestamp({t}), {v})"
                            for u, t, v in rrows)
                + ") v(user_id, ts, v)")
    want = sorted((u, ts.timestamp(), v) for u, ts, v in con.execute(
        "SELECT l.user_id, l.ts, r.v FROM l ASOF LEFT JOIN r "
        "ON l.user_id = r.user_id AND l.ts >= r.ts").fetchall())
    assert got == want


def test_range_join_points_to_intervals(spark):
    from br_doc_ocr_spark.ops import temporal

    points = spark.createDataFrame(
        [(1, 100, "a"), (1, 5000, "b"), (1, 9999, "c"), (2, 100, "d")],
        "user_id long, t long, tag string").select(
        "user_id", sf.timestamp_seconds("t").alias("ts"), "tag")
    intervals = spark.createDataFrame(
        [(1, 0, 6000, "i1"), (1, 4000, 12000, "i2"), (2, 500, 600, "i3")],
        "user_id long, s long, e long, iv string").select(
        "user_id", sf.timestamp_seconds("s").alias("start"),
        sf.timestamp_seconds("e").alias("end"), "iv")
    got = {(r["tag"], r["iv"])
           for r in temporal.range_join(points, intervals).collect()}
    assert got == {("a", "i1"), ("b", "i1"), ("b", "i2"), ("c", "i2")}


def test_drop_minhash_near_duplicates_end_to_end(docs):
    """MinHash pairs → keeper resolution: docs 0/1/3 form one near-dup
    cluster (exact dup + one-word mutations) → only min-id 0 survives; 2
    and 4 untouched."""
    pairs = dedup.minhash_near_duplicates(docs)
    kept = {r["doc_id"]
            for r in dedup.drop_near_duplicates(docs, pairs).collect()}
    assert kept == {0, 2, 4}


def test_asof_join_null_semantics(spark):
    """(a) a matched right row with a NULL value column returns NULL (not a
    stale older value); (b) NULL join keys never match; (c) NULL right
    timestamps are excluded; (d) reserved-name collisions raise."""
    from br_doc_ocr_spark.ops import temporal

    left = spark.createDataFrame(
        [(1, 300, "a"), (None, 200, "b"), (2, 100, "c")],
        "user_id long, t long, tag string").select(
        "user_id", sf.timestamp_seconds("t").alias("ts"), "tag")
    right = spark.createDataFrame(
        [(1, 100, 10.0), (1, 200, None), (None, 100, 5.0), (2, None, 7.0)],
        "user_id long, t long, v double").select(
        "user_id", sf.timestamp_seconds("t").alias("ts"), "v")
    out = {r["tag"]: (r["v_asof"],
                      r["ts_asof"].timestamp() if r["ts_asof"] else None)
           for r in temporal.asof_join(left, right,
                                       value_cols=["v"]).collect()}
    assert out["a"] == (None, 200.0)   # matched row IS the NULL-valued one
    assert out["b"] == (None, None)    # NULL key never matches
    assert out["c"] == (None, None)    # NULL right ts excluded
    with pytest.raises(ValueError):
        temporal.asof_join(left.withColumn("ts_asof", sf.lit(1)), right,
                           value_cols=["v"])


def test_quantize_dequantize_embeddings_bounds(spark):
    """int8 round-trip: codes in [-127,127], reconstruction error per
    component ≤ scale/2, zero vectors stable."""
    rows = [(0, [0.5, -1.0, 0.25, 0.0]), (1, [0.0, 0.0, 0.0, 0.0]),
            (2, [3.0, -2.0, 1.5, 0.1])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = similarity.dequantize_embeddings(similarity.quantize_embeddings(df))
    for r in q.collect():
        orig = dict(rows)[r["vec_id"]]
        assert all(-127 <= c <= 127 for c in r["q_codes"])
        if all(v == 0.0 for v in orig):
            assert r["q_scale"] == 0.0 and all(c == 0 for c in r["q_codes"])
            continue
        half = r["q_scale"] / 2 + 1e-12
        for a, b in zip(orig, r["embedding_dq"]):
            assert abs(a - b) <= half
        assert max(abs(v) for v in orig) == pytest.approx(
            r["q_scale"] * 127, rel=1e-9)


def test_cosine_topk_int8_recall_vs_float(spark):
    """The quantized scan path must agree with the float brute-force path on
    real data: recall@10 ≥ 0.9 on the testdata embeddings, and the top-1
    neighbor must match (int8 with per-vector scales keeps ~2-3 significant
    digits of each component — far more resolution than the top-k margins)."""
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qv = [float(x) for x in
          emb.filter(sf.col("vec_id") == 0).select("embedding").first()[0]]
    float_ids = [r["vec_id"] for r in
                 similarity.cosine_topk(emb, qv, k=10).collect()]
    int8_rows = similarity.cosine_topk_int8(emb, qv, k=10).collect()
    int8_ids = [r["vec_id"] for r in int8_rows]
    assert int8_ids[0] == float_ids[0]
    assert len(set(int8_ids) & set(float_ids)) >= 9
    # int_dot is the exact integer inner product of the code vectors
    assert all(isinstance(r["int_dot"], int) for r in int8_rows)


def test_dequantized_cosine_error_bound(spark):
    """int8 round-trip error measured in the metric that matters — cosine
    against a real query: per-component error is ≤ scale/2 (tested above),
    and that propagates to < 0.005 absolute cosine error on the 64-dim
    testdata embeddings (measured max 0.0025 at sf0.001 and sf0.01). This is
    the quantitative license for cosine_topk_int8 to rank in code
    space: top-k margins below this bound may reorder, larger ones cannot."""
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qv = [float(x) for x in
          emb.filter(sf.col("vec_id") == 0).select("embedding").first()[0]]
    dq = similarity.dequantize_embeddings(similarity.quantize_embeddings(emb))
    q_arr = sf.array(*[sf.lit(x) for x in qv])
    err = dq.select(sf.max(sf.abs(
        similarity.cosine(sf.col("embedding").cast("array<double>"), q_arr)
        - similarity.cosine(sf.col("embedding_dq"), q_arr))).alias("e"))
    assert err.first()["e"] < 0.005


def test_cosine_topk_int8_zero_vector_scores_zero(spark):
    rows = [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [0.8, 0.6])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in
           similarity.cosine_topk_int8(df, [1.0, 0.0], k=3).collect()}
    assert out[1]["cosine_q"] == 0.0 and out[1]["int_dot"] == 0
    assert out[0]["cosine_q"] == 1.0


def test_curate_documents_reasons_and_keep(spark):
    """Each curation rule fires alone on a doc built to violate exactly it;
    a clean doc keeps with an empty reason list."""
    clean = ("the quick brown fox jumps over the lazy dog and then "
             "walks away to find some other interesting place to rest")
    df = spark.createDataFrame([
        ("clean", clean),
        ("short", "tiny doc"),                       # < 8 tokens
        ("dupl", clean + ("\nspam line\n" * 10)),    # dup_line_frac > 0.3
        ("dupg", "the cat sat " * 30),               # dup_ngram_frac > 0.5
        ("lang", "el perro grande corre por la calle hacia una casa "
                 "blanca donde vive el gato con los otros animales"),
    ], "doc_id string, text string")
    out = {r["doc_id"]: r for r in textstats.curate_documents(
        df, min_quality=0.0, allowed_langs=("en", "und")).collect()}
    assert out["clean"]["keep"] and out["clean"]["drop_reasons"] == []
    assert out["short"]["drop_reasons"] == ["too_short"]
    assert "dup_lines" in out["dupl"]["drop_reasons"]
    assert "dup_ngrams" in out["dupg"]["drop_reasons"]
    assert out["lang"]["drop_reasons"] == ["lang"]
    assert not out["lang"]["keep"]
    # thresholds are real dials: loosening them keeps everything
    loose = textstats.curate_documents(
        df, min_tokens=0, min_quality=0.0, max_dup_line_frac=1.0,
        max_dup_ngram_frac=1.0)
    assert all(r["keep"] for r in loose.collect())


def test_curate_documents_is_shuffle_free(spark):
    df = spark.createDataFrame([("a", "x")], "doc_id string, text string")
    plan = (textstats.curate_documents(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_curate_documents_null_text_and_empty_allowlist(spark):
    """NULL-text rows must DROP (every stat is NULL, so without the explicit
    check no threshold fires and they'd sail through); an empty language
    allowlist admits nothing and must not be a SQL parse error; quoted
    language codes are escaped not injected."""
    df = spark.createDataFrame(
        [("n", None), ("e", ""), ("ok", "the quick brown fox jumps over "
                                        "the lazy dog near the river bank")],
        "doc_id string, text string")
    out = {r["doc_id"]: r for r in textstats.curate_documents(
        df, min_quality=0.0).collect()}
    assert out["n"]["drop_reasons"] == ["null_text"] and not out["n"]["keep"]
    assert "too_short" in out["e"]["drop_reasons"]
    assert out["ok"]["keep"]

    empty = textstats.curate_documents(df, min_quality=0.0, min_tokens=0,
                                       allowed_langs=())
    assert all(not r["keep"] for r in empty.collect())
    quoted = textstats.curate_documents(df, min_quality=0.0, min_tokens=0,
                                        allowed_langs=("o'x", "en", "und"))
    assert quoted.filter("doc_id = 'ok'").first()["keep"]


def test_textstats_nonplain_column_names_quoted(spark):
    """with_text_stats / repetition_stats / curate_documents interpolate the
    text column name into SQL fragments — a dotted/reserved/spaced name must
    be backtick-quoted, not break or misresolve (ADVICE r03)."""
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog by the river")],
        ["doc_id", "text column"])  # space in the name
    got = textstats.with_text_stats(df, "text column").first()
    assert got["n_tokens"] == 12 and got["lang_pred"] == "en"
    rep = textstats.repetition_stats(df, "text column").first()
    assert rep["dup_line_frac"] == 0.0
    cur = textstats.curate_documents(df, text_col="text column",
                                     min_tokens=0, min_quality=0.0).first()
    assert cur["keep"]

    # a reserved word as a column name
    df2 = spark.createDataFrame([(1, "tiny")], ["doc_id", "select"])
    assert textstats.curate_documents(
        df2, text_col="select").first()["drop_reasons"] == ["too_short"]


# ---------------------------------------------------------------------------
# review r04 follow-ups: degenerate inputs must not kill the job (ANSI mode)
# ---------------------------------------------------------------------------

def test_cosine_paths_survive_zero_norm_vectors(spark):
    """An all-zero embedding is a legitimate row: it scores 0 everywhere
    instead of throwing DIVIDE_BY_ZERO under Spark 4's default ANSI mode."""
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.5, 0.5])],
        "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r["cosine"]
           for r in similarity.cosine_topk(df, [1.0, 0.0], k=3).collect()}
    assert got[2] == 0.0 and got[1] == 1.0

    # zero-norm QUERY in the int8 path: everything scores 0, nothing throws
    rows = similarity.cosine_topk_int8(df, [0.0, 0.0], k=3).collect()
    assert [r["cosine_q"] for r in rows] == [0.0, 0.0, 0.0]

    # knn_join with a zero-norm corpus row
    q = spark.createDataFrame([(10, [1.0, 0.0])],
                              "q_id long, embedding array<double>")
    assert similarity.knn_join(q, df, k=3).count() == 3


def test_non_finite_query_raises_named_error(spark):
    df = spark.createDataFrame([(1, [1.0, 0.0])],
                               "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="non-finite"):
        similarity.cosine_topk(df, [float("nan"), 0.0]).collect()
    with pytest.raises(ValueError, match="non-finite"):
        similarity.cosine_topk_int8(df, [float("inf"), 0.0]).collect()


def test_short_vectors_fail_loudly_in_ivf(spark):
    """Vectors with fewer dims than n_bits raise a NAMED error on both the
    corpus side (ivf_bucket) and the query side (probe_buckets) instead of
    an ANSI element_at crash / silent 0-recall NULL buckets."""
    df = spark.createDataFrame([(1, [1.0, -1.0, 1.0, -1.0])],
                               "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="fewer than n_bits"):
        similarity.ivf_topk(df, [1.0, -1.0, 1.0, -1.0], n_bits=8).collect()
    with pytest.raises(ValueError, match="fewer than n_bits"):
        similarity.probe_buckets([1.0, -1.0], n_bits=8)


def test_split_dataset_rejects_invalid_ratios(spark):
    from br_doc_ocr_spark import dataset as ds

    df = spark.range(10).selectExpr("cast(id as string) AS conv_id")
    with pytest.raises(ValueError, match="train\\+val"):
        ds.split_dataset(df, train_ratio=0.9, val_ratio=0.2)
    with pytest.raises(ValueError, match="non-negative"):
        ds.split_dataset(df, train_ratio=-0.1, val_ratio=0.2)


def test_range_join_tolerates_colliding_column_names(spark):
    """An intervals frame carrying a column named like the point-ts must not
    make the residual filter ambiguous."""
    from br_doc_ocr_spark.ops import temporal

    pts = spark.createDataFrame(
        [(1, "2026-01-01 10:30:00")], "user_id long, ts string"
    ).selectExpr("user_id", "cast(ts as timestamp) AS ts")
    ivs = spark.createDataFrame(
        [(1, "2026-01-01 10:00:00", "2026-01-01 11:00:00",
          "2026-01-01 09:59:00")],
        "user_id long, start string, end string, ts string"
    ).selectExpr("user_id", "cast(start as timestamp) AS start",
                 "cast(end as timestamp) AS end",
                 "cast(ts as timestamp) AS ts")
    got = temporal.range_join(pts, ivs)
    assert got.count() == 1
    # the colliding interval column comes back suffixed, never as a
    # duplicate name that breaks the caller's first unqualified reference
    # (review r05)
    assert got.columns.count("ts") == 1
    assert "ts_interval" in got.columns


def test_range_join_refuses_reserved_bucket_column(spark):
    """A pre-existing '_bucket' column must raise, not be silently
    overwritten and dropped from the output (review r05 — asof_join
    already had this guard for its working columns)."""
    from br_doc_ocr_spark.ops import temporal

    pts = spark.createDataFrame(
        [(1, "2026-01-01 10:30:00", 7)], "user_id long, ts string, _bucket int"
    ).selectExpr("user_id", "cast(ts as timestamp) AS ts", "_bucket")
    ivs = spark.createDataFrame(
        [(1, "2026-01-01 10:00:00", "2026-01-01 11:00:00")],
        "user_id long, start string, end string"
    ).selectExpr("user_id", "cast(start as timestamp) AS start",
                 "cast(end as timestamp) AS end")
    with pytest.raises(ValueError, match="_bucket"):
        temporal.range_join(pts, ivs)


def test_crlf_documents_score_like_lf_documents(spark):
    """review r04: CRLF blank lines must not register as duplicate '\\r'
    lines and trip the dup-line curation gate."""
    docs = spark.createDataFrame(
        [(1, "a\r\nb\r\n\r\nc\r\n\r\nd"), (2, "a\nb\n\nc\n\nd")],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["dup_line_frac"], r["dup_line_char_frac"])
           for r in textstats.repetition_stats(docs).collect()}
    assert got[1] == got[2] == (0.0, 0.0)


def test_unicode_whitespace_is_not_punctuation(spark):
    """review r04: NBSP (HTML &nbsp;) and ideographic space are separators;
    counting them as punctuation wrongly sinks quality below the curation
    floor for clean HTML-derived documents."""
    docs = spark.createDataFrame(
        [(1, "word word　word"), (2, "word word word")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["punct_ratio"]
           for r in textstats.with_text_stats(docs).collect()}
    assert got[1] == got[2] == 0.0


def test_sessionize_gap_semantics(spark):
    """Hand-computed sessions: gap <= threshold chains, gap > threshold
    splits, exact-boundary gap chains (<=), NULL ts opens its own session,
    keys are independent."""
    from datetime import datetime as dt

    from br_doc_ocr_spark.ops import temporal

    rows = [
        # user 1: 0s, +10s (chain), +3600s (split), +1800s exactly (chain)
        (1, dt(2024, 1, 1, 0, 0, 0), 10),
        (1, dt(2024, 1, 1, 0, 0, 10), 11),
        (1, dt(2024, 1, 1, 1, 0, 10), 12),
        (1, dt(2024, 1, 1, 1, 30, 10), 13),
        # user 2: single event, plus a NULL ts that must open its own session
        (2, dt(2024, 1, 1, 5, 0, 0), 20),
        (2, None, 21),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long")
    out = {r["event_id"]: r["session_idx"] for r in temporal.sessionize(
        df, gap_seconds=1800, tiebreak_col="event_id").collect()}
    assert out[10] == 0 and out[11] == 0          # 10s gap chains
    assert out[12] == 1                           # 3600s gap splits
    assert out[13] == 1                           # exactly-1800s gap chains
    assert out[21] == 0 and out[20] == 1          # NULL sorts first, alone
    with pytest.raises(ValueError, match="session_idx"):
        temporal.sessionize(temporal.sessionize(df))


def test_sessionize_single_exchange(spark):
    """The lag→flag→cumsum formulation must evaluate BOTH window functions
    over one exchange keyed by user_id — a second shuffle between the lag
    and the running sum would double the event-table traffic at scale."""
    from br_doc_ocr_spark.ops import temporal
    from tests.conftest import SF_DIR

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "user_id", "ts", "event_id")
    plan = temporal.sessionize(
        ev, tiebreak_col="event_id")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
