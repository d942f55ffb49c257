"""Deduplication operators: n-gram Jaccard, MinHash+LSH, SimHash, and the
connected-components keeper resolution. Exact dedup is a plain hash
group-by, built inline by the ``dedup_exact_groups`` catalog query.

Scale design notes (the part that matters at 100 TB):

- **MinHash+LSH**: the only pairwise method that avoids O(n²): signatures are
  computed scan-side with pure column expressions (``xxhash64`` per seed over
  the shingle array — JVM, codegen), then banded; candidate pairs come from a
  self-equi-join on (band_idx, band_hash) — a shuffle keyed by band hash, so
  only colliding docs ever meet. Verification re-checks true Jaccard on the
  candidates only.
- **SimHash**: 64-bit signature from xxhash64 token hashes, computed
  entirely in column expressions (explode → packed vote lanes →
  partial-agg sums → majority pack — no Python anywhere); near-dup =
  Hamming distance ≤ k via banded equality on 16-bit chunks (same LSH-join
  trick, pigeonhole: d ≤ 3 ⇒ ≥1 of 4 chunks equal). Spark's xxhash64 is
  reproduced bit-exactly in SQL (duckdb_xxh64.py), so the whole operator
  has a value-level oracle (queries.py).
- **n-gram Jaccard**: exact verifier used on candidate pairs;
  :func:`ngram_jaccard_pairs` is the all-pairs variant, the exact oracle
  the MinHash tests compare against.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as sf

# The MinHash shape (word shingle width, seed permutations, LSH bands),
# shared with its DuckDB oracle, queries._minhash_oracle_sql.
SHINGLE_N = 3
NUM_HASHES = 32
BANDS = 8


# ---------------------------------------------------------------------------
# Shingling + MinHash (pure column expressions)
# ---------------------------------------------------------------------------

def word_shingles(text: Column) -> Column:
    """Word ``SHINGLE_N``-gram shingle array (distinct), built JVM-side.

    The tokenizer output is bound to a lambda VARIABLE via a single-element
    ``transform`` wrapper before the per-position lambda consumes it: a
    Column expression referenced inside a higher-order lambda is re-evaluated
    per element, so the original inline form re-ran split+trim+lower once
    per shingle position — measured ~90% of the whole minhash signature
    stage at sf0.1 (3.7 s → 0.4 s, identical values)."""
    tokens = sf.split(sf.trim(sf.lower(text)), r"\s+")

    def grams_of(toks: Column) -> Column:
        k = sf.size(toks) - (SHINGLE_N - 1)
        return sf.when(k <= 0, sf.array(sf.concat_ws(" ", toks))).otherwise(
            sf.transform(
                sf.sequence(sf.lit(1), sf.greatest(k, sf.lit(1))),
                lambda i: sf.concat_ws(" ", sf.slice(toks, i, SHINGLE_N)),
            )
        )

    return sf.array_distinct(sf.transform(sf.array(tokens), grams_of)[0])


def minhash_signatures(df: DataFrame) -> DataFrame:
    """(id, sig ARRAY<LONG>) per ``doc_id`` — the codegen-friendly MinHash
    of ``text``.

    Explodes the per-doc shingle-hash array, computes all ``NUM_HASHES``
    seed-hashes ``xxhash64(h, i)`` in ONE projection (whole-stage codegen —
    higher-order lambdas are interpreted and profile ~10× slower here), and
    reduces with ``groupBy(id).min`` per seed: map-side partial aggregation
    means the shuffle carries one 8-byte min per (partition, id, seed), not
    the shingles. Each shingle string is hashed once and the seeds re-hash
    its 8-byte long (seed-hashing the strings ``NUM_HASHES`` times profiled
    ~30× slower). A NULL-text document (its shingle array is null → explode
    emits nothing) is DROPPED here. Benign for thresholded near-dup use — a
    shingle-less doc can't clear any positive Jaccard threshold — but
    callers needing every id should left-join signatures back onto the id
    set (ADVICE r01)."""
    sh = df.select(sf.col("doc_id").alias("id"),
                   word_shingles(sf.col("text")).alias("_sh"))
    exploded = sh.select(
        "id", sf.explode(sf.transform("_sh", lambda s: sf.xxhash64(s))).alias("_h"))
    # SQL-string construction for the NUM_HASHES-wide blocks: one py4j call
    # per column instead of ~5 — the Column-composed form spent ~0.4 s of
    # driver time per build (see the matching note in simhash_signatures)
    mins = exploded.selectExpr(
        "id", *[f"xxhash64(_h, {i}) AS _p{i}" for i in range(NUM_HASHES)]
    ).groupBy("id").agg(
        *[sf.expr(f"min(_p{i}) AS _m{i}") for i in range(NUM_HASHES)])
    sig_arr = ", ".join(f"_m{i}" for i in range(NUM_HASHES))
    return mins.selectExpr("id", f"array({sig_arr}) AS sig")


def jaccard(a: Column, b: Column) -> Column:
    inter = sf.size(sf.array_intersect(a, b))
    union = sf.size(sf.array_union(a, b))
    return sf.when(union == 0, sf.lit(1.0)).otherwise(inter / union)


def jaccard_counts(a: Column, b: Column) -> tuple[Column, Column]:
    """(intersection size, union size) — the exact-integer jaccard core,
    used where a float ratio would be hash-compared across engines."""
    return (sf.size(sf.array_intersect(a, b)),
            sf.size(sf.array_union(a, b)))


def ngram_jaccard_pairs(df: DataFrame) -> DataFrame:
    """All-pairs shingle Jaccard ≥ 0.5 (O(n²) — small inputs / test
    oracle; the scale path is :func:`minhash_near_duplicates`)."""
    sh = df.select(sf.col("doc_id").alias("id"),
                   word_shingles(sf.col("text")).alias("sh"))
    left = sh.alias("l")
    right = sh.alias("r")
    return (
        left.join(right, sf.col("l.id") < sf.col("r.id"))
        .select(
            sf.col("l.id").alias("id_a"), sf.col("r.id").alias("id_b"),
            sf.round(jaccard(sf.col("l.sh"), sf.col("r.sh")), 6).alias("jaccard"),
        )
        .filter(sf.col("jaccard") >= 0.5)
    )


def minhash_lsh_candidates(df: DataFrame) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash (shingle → minhash → band →
    bucket self-join). Returns distinct (id_a < id_b) candidate pairs with
    their estimated signature similarity.

    Shuffle profile: one explode (rows × BANDS) + one equi-join keyed by
    (band_idx, band_hash) — colliding docs only; no cartesian anywhere.
    """
    rows_per_band = NUM_HASHES // BANDS
    sig = minhash_signatures(df)
    # materialize the signature table ONCE before the band self-join — the
    # same double-execution shape simhash_near_duplicates fixes: without
    # this, the join's build side replans the whole shingle-explode +
    # 32-min aggregation from raw text (neither side is an Exchange, so
    # ReuseExchange never applies). Signatures are 8·NUM_HASHES bytes/doc,
    # the cheapest thing in the query to hold (interleaved A/B at sf0.1:
    # median 1.55 s → 1.37 s end-to-end). Not fault-tolerant — on a real
    # cluster prefer setCheckpointDir + .checkpoint().
    sig = sig.localCheckpoint(eager=False)
    band_structs = ", ".join(
        "named_struct('band_idx', {b}, 'band_hash', xxhash64(concat_ws(',', "
        "{elems})))".format(
            b=b,
            elems=", ".join(f"element_at(sig, {b * rows_per_band + r + 1})"
                            for r in range(rows_per_band)))
        for b in range(BANDS))
    banded = sig.selectExpr(
        "id", "sig", f"explode(array({band_structs})) AS band",
    ).select("id", "sig", "band.band_idx", "band.band_hash")

    l, r = banded.alias("l"), banded.alias("r")
    matches = sf.filter(
        sf.zip_with(sf.col("l.sig"), sf.col("r.sig"),
                    lambda a, b: (a == b).cast("int")),
        lambda x: x == 1,
    )
    # est_similarity is computed BEFORE the pair dedup: it depends only on the
    # two ids (their signatures), so every duplicate band-collision row carries
    # the same value — the dropDuplicates shuffle then moves 24-byte
    # (id_a, id_b, est) rows instead of two NUM_HASHES-long signature arrays
    # (~20× less shuffle volume for a few redundant 32-element comparisons).
    return (
        l.join(r, [sf.col("l.band_idx") == sf.col("r.band_idx"),
                   sf.col("l.band_hash") == sf.col("r.band_hash"),
                   sf.col("l.id") < sf.col("r.id")])
        .select(sf.col("l.id").alias("id_a"), sf.col("r.id").alias("id_b"),
                sf.round(sf.size(matches) / sf.lit(float(NUM_HASHES)), 6)
                  .alias("est_similarity"))
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_near_duplicates(df: DataFrame,
                            threshold: float = 0.5) -> DataFrame:
    """Scale path end-to-end: LSH candidates → exact Jaccard verify ≥ threshold.

    The threshold filter compares the UNROUNDED ratio (``n_common/n_union >=
    threshold`` — IEEE-identical across engines since the counts are exact
    ints), and the output carries the exact ``n_common``/``n_union`` counts
    alongside the rounded display ratio, so the cross-engine oracle can
    hash integers instead of floats."""
    cands = minhash_lsh_candidates(df)
    sh = df.select(sf.col("doc_id").alias("id"),
                   word_shingles(sf.col("text")).alias("sh"))
    inter, union = jaccard_counts(sf.col("sh_a"), sf.col("sh_b"))
    verified = (
        cands.join(sh.withColumnsRenamed({"id": "id_a", "sh": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({"id": "id_b", "sh": "sh_b"}), "id_b")
        .select("id_a", "id_b",
                inter.alias("n_common"), union.alias("n_union"))
        .filter(sf.col("n_common") >= sf.col("n_union") * threshold)
        .withColumn("jaccard",
                    sf.round(sf.col("n_common") / sf.col("n_union"), 6))
    )
    return verified


# ---------------------------------------------------------------------------
# SimHash — pure column expressions end to end (no Python kernel).
#
# Token hash: Spark's native xxhash64, reproduced bit-exactly in SQL by
# duckdb_xxh64.xxh64_string_ctes — queries.py renders the whole signature +
# pair join in DuckDB and the driver value-hashes both sides.
# ---------------------------------------------------------------------------

def simhash_signatures(df: DataFrame, salt_buckets: int = 4) -> DataFrame:
    """(id, simhash LONG) per ``(doc_id, text)`` document — 64-bit SimHash,
    all JVM-side.

    Shape mirrors :func:`minhash_signatures` with PACKED vote lanes
    (VERDICT r02 #4): explode the token multiset, then instead of 64
    single-bit aggregate columns, one codegen projection packs the 64 bit
    indicators of the xxhash64 token hash into 16 longs of 4×16-bit
    lanes (long j, lane l ← bit 4j+l), and the token-granularity aggregate
    sums just those 16 longs + a count — the partial-agg state per group is
    17 longs, not 65, and the per-row update is shift-adds, not 64 CASE
    branches (profiled 2.4 s → ~1 s for the signature stage at sf0.1).

    Duplicate tokens are PRE-AGGREGATED before the wide vote aggregate
    (VERDICT r04 #2): a cheap count-only groupBy(id, salt, token-hash)
    collapses token instances to distinct tokens with a count, and each
    lane vote is weighted by that count — the 17-long partial-agg then
    sees distinct tokens, not token instances (the vote aggregation was
    profiled at 1.8 s of the 3.1 s query; real corpora repeat stopwords
    2-5×). Values are unchanged: Σ over instances of bit(t) ≡ Σ over
    distinct tokens of cnt(t)·bit(t).

    A 16-bit lane holds per-bit counts, so the token aggregate groups
    by (id, ``pos % salt_buckets``) and a second, tiny aggregate
    (≤ ``salt_buckets`` rows/doc) unpacks the lanes and sums the
    64 exact per-bit counts. The per-lane capacity is 32 767 (not the
    16-bit 65 535): Spark 4 runs ANSI mode by default, where a lane-3
    vote sum above 32 767·2^48 overflows the signed long and RAISES
    mid-aggregation — capping at 2^15−1 keeps every packed sum below
    2^63 (documents up to ``salt_buckets``·32 767 tokens, ~750 KB of
    text at the default 4; raise ``salt_buckets`` for longer corpora).
    Overflow beyond that is GUARDED, not silent: a document over the
    capacity raises via ``raise_error`` instead of corrupting neighbor
    lanes. Bit i of the signature is set iff more than half the
    token hashes have bit i set — values identical to the unpacked
    formulation (tests pin this against the Python model).
    ``posexplode_outer`` keeps tokenless documents (empty/whitespace text)
    as a single null-token row, whose all-null lane sums fall through every
    ``when`` to 0 — signature 0, one scan, no join-back (the empty-doc
    drop ADVICE r01 flagged for minhash does not recur here).
    """
    # 32767 per lane: position-salting balances instances EXACTLY across
    # the salt groups (pos % salt_buckets), so _n ≤ cap bounds every
    # group's vote total — and with it every packed lane sum — at 32767,
    # under both the 16-bit lane width and the ANSI signed-long ceiling
    cap = salt_buckets * 32767
    # Tokenizer + hash as ONE SQL string per select (one py4j call instead
    # of ~40 — query build time is part of every bench rep, r05 profile):
    # - tokens: whitespace multiset of lowered text, Python
    #   ``s.lower().split()`` semantics (any whitespace run separates, no
    #   empty tokens);
    # - hash: Spark's native xxhash64 (XXH64 seed 42, UTF-8 bytes). An
    #   earlier revision used md5 hex digits for oracle parity; that crypto
    #   hash + hex fold was ~70% of the whole operator's cost at sf0.1 —
    #   the DuckDB oracle now reuses the bit-exact SQL XXH64 rendering
    #   built for MinHash (``duckdb_xxh64.xxh64_string_ctes``);
    # - NULL stays NULL: bare xxhash64 SKIPS null args and returns the
    #   seed (42) — without the CASE guard a tokenless document's
    #   posexplode_outer null-token row would vote the bits of 42 into its
    #   signature instead of falling through to signature 0.
    toks = df.selectExpr(
        "doc_id AS id",
        "posexplode_outer(filter(split(trim(lower(text)), '\\\\s+'), "
        "x -> x != '')) AS (_pos, _tok)")
    h = toks.selectExpr(
        "id", f"pmod(coalesce(_pos, 0), {salt_buckets}) AS _salt",
        "CASE WHEN _tok IS NULL THEN CAST(NULL AS BIGINT) "
        "ELSE xxhash64(_tok) END AS _h")
    # token pre-aggregation: count-only partial agg (single counter per
    # hashmap slot) collapses instances → (distinct token, cnt); count(_h)
    # skips the null-token row of a tokenless doc, so its group carries
    # cnt = 0 and the final _n stays 0 exactly as the instance-level
    # count(_p0) did
    pre = h.groupBy("id", "_salt", "_h").agg(sf.expr("count(_h) AS _cnt"))

    # nibble→lane spread in 4 ops: for nibble bits b0..b3, multiplying by
    # C = 1 + 2^15 + 2^30 + 2^45 lands bit k at position k + 15k' for each
    # (k, k') — all 16 positions {0..3, 15..18, 30..33, 45..48} are distinct
    # (no carries), and masking positions {0,16,32,48} keeps exactly bit k
    # in lane k. ~4× fewer codegen ops/token than per-bit shift-mask-shift.
    #
    # The repetitive 16/64-wide blocks are built as SQL-string expressions
    # (selectExpr / one expr per agg column): composing them Column-by-Column
    # cost ~800 py4j round trips ≈ 1.4 s of DRIVER time per query build —
    # measured 3× the whole cluster-side execution at sf0.1. Same plan,
    # same values; only the construction path changes.
    spread_c = (1 << 45) | (1 << 30) | (1 << 15) | 1
    lane_m = (1 << 48) | (1 << 32) | (1 << 16) | 1

    # weighting by _cnt is carry-free while the doc is under capacity: the
    # masked spread holds 0/1 at lane positions {0,16,32,48}, and a salt
    # group of ≤ 32767 tokens keeps each product term within its 16-bit
    # lane and every packed sum below 2^63. OVER capacity the arithmetic
    # itself can overflow BEFORE the _ng guard below ever evaluates —
    # under Spark 4's default ANSI mode that raised a generic
    # ARITHMETIC_OVERFLOW instead of the named error (review r05: a
    # single token repeated ≥ 32768× in one salt group overflows the
    # product; ≥ 32768 distinct set-bit tokens overflow the lane sum).
    # try_multiply/try_sum turn both into NULL lanes instead; and any
    # overflow implies the salt group holds ≥ 32768 tokens, which under
    # the exact round-robin position salting implies _n > cap — so the
    # named raise_error guard always fires for exactly those documents.
    lanes16 = pre.selectExpr(
        "id", "_salt", "_cnt",
        *[f"try_multiply((shiftrightunsigned(_h, {4 * j}) & 15)"
          f" * {spread_c}L & {lane_m}L, _cnt) AS _p{j}" for j in range(16)])
    partial = lanes16.groupBy("id", "_salt").agg(
        sf.expr("sum(_cnt) AS _n"),
        *[sf.expr(f"try_sum(_p{j}) AS _p{j}") for j in range(16)])

    def unpacked(i: int) -> str:
        j, lane = divmod(i, 4)
        return (f"sum(shiftrightunsigned(_p{j}, {16 * lane}) & 65535)"
                f" AS _s{i}")

    votes = partial.groupBy("id").agg(
        sf.expr("sum(_n) AS _n"), *[sf.expr(unpacked(i)) for i in range(64)])
    # the overflow guard is hoisted into ONE projected column (_ng) instead
    # of being inlined into every pack term: 64 copies of a raise_error CASE
    # subtree made the expression tree big enough that Catalyst's per-action
    # re-optimization alone cost ~0.5 s per run at ANY data size (r05
    # profile) — same values, same raise semantics, 1/64th the tree
    guard = (f"CASE WHEN _n > {cap} THEN raise_error(concat("
             f"'simhash vote lanes overflow: document has > {cap} tokens"
             f" — raise salt_buckets for id ', CAST(id AS STRING)))"
             f" ELSE _n END")
    guarded = votes.selectExpr("id", f"({guard}) AS _ng",
                               *[f"_s{i}" for i in range(64)])
    # disjoint bit contributions sum to the packed word; bit 63 is the sign
    # bit of the signed long, hence the -2^63 literal
    # bit 63: -2^63 itself does not parse as a literal (unary minus over an
    # out-of-range positive), hence the two-term form
    pack = " + ".join(
        f"CAST(CASE WHEN _s{i} * 2 > _ng THEN "
        f"{'(-9223372036854775807L - 1L)' if i == 63 else f'{1 << i}L'}"
        f" ELSE 0L END AS BIGINT)"
        for i in range(64))
    return guarded.selectExpr("id", f"({pack}) AS simhash")


def simhash_near_duplicates(df: DataFrame,
                            max_hamming: int = 3) -> DataFrame:
    """Near-dups with Hamming(simhash) ≤ max_hamming via the 4×16-bit-chunk
    pigeonhole join (d ≤ 3 ⇒ at least one chunk identical) — candidates from
    an equi-join, exact Hamming verified with ``bit_count(a XOR b)``.

    The 4-chunk pigeonhole is only COMPLETE for max_hamming ≤ 3: at
    distance 4 the differing bits can land one per chunk and the pair never
    meets in the equi-join — a silently incomplete answer, so larger
    thresholds raise instead (review r04)."""
    if max_hamming > 3:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the 4-chunk pigeonhole "
            "guarantee (complete only for <= 3); raise the chunk count "
            "instead of silently missing pairs")
    sh = simhash_signatures(df)
    # materialize the signature table ONCE before the self-join: without
    # this the broadcast/build side replans the whole three-stage vote
    # aggregation from the raw text (the left side is not an Exchange, so
    # ReuseExchange can never kick in) — the most expensive stage of the
    # query ran twice (r05 profile: ~1.5 s → ~1.25 s at sf0.1). The
    # signature table is 16 bytes/doc, the cheapest thing in the query to
    # hold. Same trade as connected_components: localCheckpoint is not
    # fault-tolerant — on a real cluster prefer setCheckpointDir +
    # .checkpoint() for lineage truncation that survives executor loss.
    sh = sh.localCheckpoint(eager=False)
    # SQL-string chunk explode: identical plan to the Column-composed form
    # (struct array → explode), ~70 fewer py4j round trips per query build
    chunk_structs = ", ".join(
        f"named_struct('chunk_idx', {c}, 'chunk', "
        f"shiftright(simhash, {16 * c}) & 65535)" for c in range(4))
    chunks = sh.selectExpr(
        "id", "simhash", f"explode(array({chunk_structs})) AS c",
    ).selectExpr("id", "simhash", "c.chunk_idx AS chunk_idx",
                 "c.chunk AS chunk")
    l, r = chunks.alias("l"), chunks.alias("r")
    return (
        l.join(r, [sf.col("l.chunk_idx") == sf.col("r.chunk_idx"),
                   sf.col("l.chunk") == sf.col("r.chunk"),
                   sf.col("l.id") < sf.col("r.id")])
        .selectExpr("l.id AS id_a", "r.id AS id_b",
                    "bit_count(l.simhash ^ r.simhash) AS hamming")
        .dropDuplicates(["id_a", "id_b"])
        .filter(sf.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# Keeper resolution: near-dup pair lists are not actionable until clusters
# are resolved — connected components + min-id keeper per component (the
# standard pretraining-dedup final step; the reference's file_hash unique
# key is the exact-dup special case of this).
# ---------------------------------------------------------------------------

def connected_components(pairs: DataFrame, max_iterations: int = 25,
                         stats: dict | None = None) -> DataFrame:
    """(id, component) for every id appearing in the ``id_a``/``id_b``
    columns of ``pairs``, where component
    is the SMALLEST id reachable through the pair graph — deterministic
    cluster representatives.

    Algorithm: min-label propagation with POINTER JUMPING — each iteration
    (a) takes the min label over graph neighbors, then (b) replaces every
    label by its label's label (path halving). Converges in O(log D)
    iterations for diameter D (a bare neighbor-min needs O(D) — a 40-chain
    would blow the iteration budget), each iteration two shuffles over the
    (id, comp) pair set, never the documents. ``localCheckpoint`` per
    iteration truncates the iterative plan lineage (on a cluster prefer
    ``spark.sparkContext.setCheckpointDir`` + ``checkpoint`` for
    fault-tolerant truncation).

    Raises RuntimeError if the budget is exhausted before the fixpoint —
    a silent partial labeling would merge/split clusters undetectably.
    """
    edges = pairs.select(sf.col("id_a").alias("src"),
                         sf.col("id_b").alias("dst"))
    und = (edges.unionByName(edges.select(sf.col("dst").alias("src"),
                                          sf.col("src").alias("dst")))
           .distinct())
    labels = (und.select(sf.col("src").alias("id")).distinct()
              .withColumn("comp", sf.col("id"))).localCheckpoint()
    for it in range(max_iterations):
        neighbor_min = (
            und.join(labels.withColumnRenamed("id", "src"), "src")
            .select(sf.col("dst").alias("id"), "comp"))
        stepped = (labels.unionByName(neighbor_min)
                   .groupBy("id").agg(sf.min("comp").alias("comp")))
        # pointer jump: comp <- comp's comp (path halving)
        reps = stepped.select(sf.col("id").alias("comp"),
                              sf.col("comp").alias("comp2"))
        jumped = (stepped.join(reps, "comp", "left")
                  .select("id", sf.coalesce("comp2", "comp").alias("comp"))
                  ).localCheckpoint()
        changed = (jumped.join(labels.withColumnRenamed("comp", "old"), "id")
                   .filter(sf.col("comp") != sf.col("old")).count())
        labels = jumped
        if stats is not None:
            stats["iterations"] = it + 1
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} "
        "iterations — raise max_iterations (graph diameter > 2^iterations)")


def drop_near_duplicates(df: DataFrame, pairs: DataFrame,
                         stats: dict | None = None) -> DataFrame:
    """Keep one row per near-dup cluster (the min-``doc_id`` representative)
    plus every row not mentioned in ``pairs`` — the end-to-end dedup sink."""
    comps = connected_components(pairs, stats=stats)
    losers = comps.filter(sf.col("id") != sf.col("comp")).select(
        sf.col("id").alias("doc_id"))
    return df.join(losers, "doc_id", "left_anti")
