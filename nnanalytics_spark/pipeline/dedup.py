"""Deduplication operators for training-data pipelines.

Strategies ordered by cost/recall tradeoff. All are shuffle-shaped for
100 TB: exact dedup is one hash-aggregate; the near-dup family avoids
the O(n²) pair space by LSH banding (candidate pairs only materialize when
two docs collide in a band bucket), and every hash is a deterministic
expression (xxhash64 / crc32) so results are reproducible and partial
aggregation applies.

- exact_dedup:        group by normalized text hash, keep min id
- ngram_jaccard_pairs: shingle → explode → inverted index → pair counts →
                       exact Jaccard (for bounded candidate sets)
- minhash_signatures / minhash_lsh_pairs: k permutations via seeded
  xxhash64, banded into b bands × r rows
- lsh_verified_pairs: LSH candidates verified by exact Jaccard — the
                      scale path for exact near-dup pairs
- simhash:            64-bit sign-sum over token hashes (Hamming near-dup)
- dup_clusters:       connected components over any pair list (min-label
                      propagation) → canonical keeper per dup group
- contamination_pairs: asymmetric eval-in-train shingle containment
                       (benchmark-leakage scan)
- embedding cosine near-dup lives in similarity.py (ANN machinery)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def normalized(text_col: Column) -> Column:
    """Canonical text form for exact dedup: lowercase, collapse whitespace."""
    return F.lower(F.trim(F.regexp_replace(text_col, r"\s+", " ")))


def exact_dedup(df: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: one row per distinct normalized text, keeping the
    lowest id (deterministic winner). Single hash-aggregate shuffle; at
    scale the map-side partial aggregation collapses most duplicates
    before the exchange."""
    return (
        df.groupBy(normalized(F.col(text)).alias("norm_text"))
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_count"))
    )


def shingles(text_col: Column, n: int = 3) -> Column:
    """Word n-gram shingle array (distinct).

    One regexp_extract_all pass: at each token start, a lookahead captures
    the n-token window and the match consumes the leading token, so the
    scanner hops token-to-token. This stays in whole-stage codegen; the
    transform(sequence, slice)+split formulation it replaces is ~12×
    slower because Catalyst inlines the split() into the (interpreted)
    lambda and re-tokenizes the doc once per gram position."""
    norm = F.lower(F.trim(F.regexp_replace(text_col, r"\s+", " ")))
    pat = r"(?=((?:\S+ ){%d}\S+))\S+ ?" % (n - 1)
    return F.array_distinct(F.regexp_extract_all(norm, F.lit(pat), 1))


def shingle_postings(
    df: DataFrame, text: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Exploded per-doc distinct shingle postings ``(id, ns, shingle)`` —
    the shared front of every shingle consumer (``ns`` = the doc's
    distinct-shingle count, carried on each posting so consumers never
    need a size table). Queries that run TWO shingle pipelines over the
    same corpus (exact-Jaccard pairs + minhash signatures, e.g. the
    b-bit audit and the LSH recall gate) build this once, lazily
    localCheckpoint it, and hand it to both via their ``postings=``
    parameter — the corpus scan + regex shingle extraction (the
    dominant map-side cost of every shingle pipeline; ReusedExchange
    cannot collapse it across pipelines keyed differently) then runs
    once instead of once per pipeline. Scale note: the checkpointed
    postings table is corpus-sized (one row per doc-shingle), so at
    100 TB this is a disk-backed materialization traded against a
    second full scan + regex pass — the regex is the more expensive
    side (measured here), and the checkpoint is dropped at first
    action's end; callers who cannot afford the storage simply omit
    ``postings=`` and keep the two-pass shape."""
    sh = df.select(
        F.col(id_col).alias("id"), shingles(F.col(text), n).alias("sh")
    )
    # the shingle width rides the column metadata so consumers can
    # verify a shared postings table was built with the n they expect
    # (ADVICE r9: a mismatched table would yield wrong Jaccard /
    # signatures with no error). Metadata must be applied in a second
    # projection — an alias directly on the generator drops it.
    exploded = sh.select(
        "id", F.size("sh").alias("ns"), F.explode("sh").alias("shingle")
    )
    return exploded.select(
        "id", "ns", F.col("shingle").alias("shingle", metadata={"shingle_n": n})
    )


def _check_postings_n(postings: DataFrame, n: int, caller: str) -> None:
    """Raise if a shared ``shingle_postings`` table carries a shingle
    width different from what the caller's own arguments would build.
    Tables without the metadata (hand-built) pass unchecked — the
    docstring contract still applies."""
    meta = postings.schema["shingle"].metadata or {}
    got = meta.get("shingle_n")
    if got is not None and int(got) != n:
        raise ValueError(
            f"{caller}: postings= was built with n={got} but the call "
            f"expects n={n}; build shingle_postings with identical "
            "text/id_col/n arguments"
        )


def ngram_jaccard_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
    postings: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via an inverted shingle index:
    explode shingles → self-join on shingle → count common shingles →
    |A∩B| / (|A|+|B|-|A∩B|). The shingle equi-join hash-partitions on the
    shingle, so the pair space never materializes beyond co-occurring
    candidates.

    ``max_shingle_df`` is the skew bound (hot-shingle stop-wording): when
    set, shingles appearing in more than that many documents are dropped
    from CANDIDATE GENERATION — a shingle with document frequency d
    contributes d² candidate pairs, so the unbounded index is quadratic in
    the hottest shingle (measured: 73M pairs / 95 s at 40 K synthetic
    docs) while the bounded one is ≤ max_df · |postings|. Emitted Jaccard
    values stay EXACT: the common-shingle count splits into the rare part
    (counted by the bounded self-join) plus the hot part (per-doc hot
    lists are tiny by construction — the distinct-hot-shingle set is
    corpus-small — so they ride two broadcast joins and one
    array_intersect per candidate; full shingle sets never shuffle).
    The only loss is pairs whose shared shingles are ALL hot — at any
    realistic threshold those are not near-dups. This is the knob that
    lets the exact path survive a skewed corpus; the orthogonal scale
    path is lsh_verified_pairs.

    Physical notes: the index keys on xxhash64(shingle) — an 8-byte
    shuffle key instead of the shingle string (same counts w.h.p. at
    64 bits); and |A| / |B| ride the exploded postings as a carried
    column (functionally dependent on the id), so no size table, no
    extra scans, no enrichment joins — one self-join + one aggregate
    is the whole plan.

    ``postings`` (optional): a pre-built ``shingle_postings`` table
    (id, ns, shingle) — see that helper; results are identical."""
    from pyspark.sql import Window as W

    if postings is not None:
        _check_postings_n(postings, n, "ngram_jaccard_pairs")
    occ = postings if postings is not None else shingle_postings(df, text, id_col, n)
    sh = occ.select("id", "ns", F.xxhash64("shingle").alias("sg"))
    if max_shingle_df is not None:
        # Document frequency rides the SAME exchange as the self-join:
        # shingles are per-doc distinct, so count(*) over a sg-partitioned
        # window == df, and the window's hash(sg) shuffle is exactly the
        # partitioning the sg equi-join needs — Catalyst plans ONE
        # exchange, reuses it for the second join side (ReusedExchange),
        # and the join sorts are already satisfied by the window sort.
        # (Measured at sf0.1: ~25% faster than the previous
        # persist + separate-df-count + anti-join formulation, and no
        # executor-memory pressure from a persisted postings table.)
        shw = sh.withColumn("df", F.count(F.lit(1)).over(W.partitionBy("sg")))
        # materialize the windowed postings ONCE (lazy localCheckpoint):
        # the table feeds FOUR consumers (both self-join sides and both
        # hot-list builds), and each otherwise re-evaluates the
        # sort+window over the full postings — AQE's stage cache shares
        # the shuffle map outputs but not the window above them
        # (profiled: two ~0.6 s single-task window re-evals per
        # consumer query). Same-session A/B min-of-3 at sf0.1: 1.25 ->
        # 0.60 s for the pair pipeline, results identical. Scale note:
        # the checkpoint stores one corpus-sized postings pass (the
        # shingle_postings tradeoff, already documented there) against
        # 2-3 repeated sort+window passes over the same rows. Skipped
        # when the caller supplied an already-checkpointed postings
        # table (minhash_bbit's shared-front path): re-evaluating the
        # window over a cheap ExistingRDD scan costs less than storing
        # the postings a SECOND time (measured 1.06x worse stacked,
        # min-of-5 same-session).
        if postings is None:
            shw = shw.localCheckpoint(eager=False)
        rare = shw.filter(F.col("df") <= max_shingle_df).drop("df")
        hot = shw.filter(F.col("df") > max_shingle_df)
        a, b = rare.alias("a"), rare.alias("b")
        pairs = (
            a.join(b, (F.col("a.sg") == F.col("b.sg")) & (F.col("a.id") < F.col("b.id")))
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(
                F.count(F.lit(1)).alias("c_rare"),
                F.first(F.col("a.ns")).alias("size_a"),
                F.first(F.col("b.ns")).alias("size_b"),
            )
        )
        # per-doc HOT shingle lists (tiny arrays); candidates missing from
        # this table have no hot shingles at all → empty list. `hot` reads
        # from the same reused exchange as the join sides.
        hot_lists = hot.groupBy("id").agg(F.collect_list("sg").alias("hot_sg"))
        # the hot-list joins key on doc id (bounded pair set vs one tiny
        # array per doc-with-hot-shingles); left to AQE — broadcastable
        # when small, plain shuffle-hash at corpus scale. BOTH joins keep
        # the IDENTICAL hot_lists subtree (rename via subquery alias, not
        # a projection below the join): a select that renames under each
        # broadcast made the two BroadcastExchange subtrees canonically
        # different, so the window+sort+collect_list pipeline was planned
        # and EXECUTED twice — profiled as two ~0.6 s single-task stages
        # in every max_shingle_df consumer (r10-opt); identical subtrees
        # collapse through AQE's stage cache into one build.
        empty = F.array().cast("array<bigint>")
        ha, hb = hot_lists.alias("ha"), hot_lists.alias("hb")
        withhot = (
            pairs.join(ha, F.col("id_a") == F.col("ha.id"), "left")
            .join(hb, F.col("id_b") == F.col("hb.id"), "left")
            .withColumn(
                "n_common",
                F.col("c_rare")
                + F.size(
                    F.array_intersect(
                        F.coalesce(F.col("ha.hot_sg"), empty),
                        F.coalesce(F.col("hb.hot_sg"), empty),
                    )
                ),
            )
        )
        return (
            withhot.withColumn(
                "jaccard",
                F.round(
                    F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
                    6,
                ),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.sg") == F.col("b.sg")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.first(F.col("a.ns")).alias("size_a"),
            F.first(F.col("b.ns")).alias("size_b"),
        )
    )
    return (
        common.withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """ASYMMETRIC n-gram containment pairs: C(A→B) = |A∩B| / |A|
    (Broder's containment, the quantity Jaccard misses) — the detector
    for sub-document duplication, where a short document is wholly
    embedded in a longer one but the pair's Jaccard is diluted by the
    host's extra content. Emits (id_a, id_b, c_ab, c_ba) for pairs where
    EITHER direction's containment clears the threshold.

    Same inverted-shingle-index plan as ngram_jaccard_pairs (one
    xxhash64-keyed self-join + one aggregate; set sizes ride the exploded
    postings), so the pair space never exceeds co-occurring candidates
    and the shuffle keys are 8-byte hashes. The same hot-shingle caveat
    applies: for skewed corpora run the Jaccard op's bounded variant
    first to pick a stop-shingle df, then feed the same bound here."""
    sh = (
        df.select(F.col(id_col).alias("id"), shingles(F.col(text), n).alias("sh"))
        .select("id", F.size("sh").alias("ns"), F.explode("sh").alias("shingle"))
        .select("id", "ns", F.xxhash64("shingle").alias("sg"))
        # explicit hash-repartition on the join key: both self-join sides
        # then satisfy their distribution from ONE exchange
        # (ReusedExchange), so the regex shingling runs once, not twice —
        # measured 1.8× at sf0.1, and at corpus scale it halves the
        # dominant scan+extract cost the same way
        .repartition("sg")
    )
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.sg") == F.col("b.sg")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.first(F.col("a.ns")).alias("size_a"),
            F.first(F.col("b.ns")).alias("size_b"),
        )
    )
    return (
        common.withColumn("c_ab", F.round(F.col("n_common") / F.col("size_a"), 6))
        .withColumn("c_ba", F.round(F.col("n_common") / F.col("size_b"), 6))
        .filter((F.col("c_ab") >= threshold) | (F.col("c_ba") >= threshold))
        .select("id_a", "id_b", "c_ab", "c_ba")
    )


def ngram_occurrences(text_col: Column, n: int = 8) -> Column:
    """All positional word n-grams (NON-distinct, one per start token) —
    the span-level unit for substring-style dedup. Same single-pass
    lookahead scan as `shingles`, minus the distinct."""
    norm = F.lower(F.trim(F.regexp_replace(text_col, r"\s+", " ")))
    pat = r"(?=((?:\S+ ){%d}\S+))\S+ ?" % (n - 1)
    return F.regexp_extract_all(norm, F.lit(pat), 1)


def dup_ngram_coverage(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicated-span statistics: for each document, the
    fraction of its token n-gram positions whose n-gram also occurs in at
    least ``min_docs`` distinct documents — the token-granular analog of
    suffix-array substring dedup (Lee et al. 2021, "Deduplicating Training
    Data Makes Language Models Better", arXiv:2107.06499), used to rank
    documents for span-level cleaning when whole-doc dedup is too coarse.

    Shape (two keyed shuffles, both with map-side partial aggregation):
      1. per-(doc, n-gram-hash) occurrence counts — repeated boilerplate
         collapses before the exchange;
      2. n-gram document frequency over those distinct (doc, gram) rows —
         strictly smaller input than (1)'s.
    The duplicated-gram set then equi-joins back onto (1) by hash (AQE
    broadcasts it when small, shuffle-hash otherwise) and one final
    groupBy(doc) emits the sums. N-grams travel as xxhash64 keys — 8-byte
    shuffle rows, never the span strings. Docs shorter than n tokens emit
    0 n-grams / 0.0 fraction."""
    ng = ngram_occurrences(F.col(text), n)
    occ = df.select(F.col(id_col).alias("id"), F.explode(ng).alias("g")).select(
        "id", F.xxhash64("g").alias("sg")
    )
    per_doc_gram = occ.groupBy("id", "sg").agg(F.count(F.lit(1)).alias("c"))
    dfreq = per_doc_gram.groupBy("sg").agg(F.count(F.lit(1)).alias("docs"))
    dup_sg = dfreq.filter(F.col("docs") >= min_docs).select("sg", F.lit(1).alias("is_dup"))
    per_doc = (
        per_doc_gram.join(dup_sg, "sg", "left")
        .groupBy("id")
        .agg(
            F.sum("c").alias("n_ngrams"),
            F.coalesce(F.sum(F.when(F.col("is_dup") == 1, F.col("c"))), F.lit(0)).alias(
                "n_dup_ngrams"
            ),
        )
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(per_doc.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_ngrams", F.lit(0)).alias("n_ngrams"),
            F.coalesce("n_dup_ngrams", F.lit(0)).alias("n_dup_ngrams"),
            F.round(
                F.coalesce("n_dup_ngrams", F.lit(0))
                / F.greatest(F.coalesce("n_ngrams", F.lit(0)), F.lit(1)),
                6,
            ).alias("dup_frac"),
        )
    )


def remove_dup_spans(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Span-level corpus REWRITE — the transform half of Lee et al. 2021
    (dup_ngram_coverage only reports the stats): every token position
    covered by an n-gram that occurs in >= min_docs documents is dropped,
    EXCEPT in the canonical document (the minimum doc id containing that
    n-gram), which keeps its copy. Boilerplate that plagues web corpora
    (headers, licenses, navigation) survives exactly once.

    Output: (doc_id, clean_text, n_tokens, n_removed) — deterministic,
    order-preserving within each document.

    Shape at 100 TB (three keyed shuffles, all map-side combined):
      1. per-gram stats: corpus doc-frequency + min doc id, keyed on the
         8-byte xxhash64 of the gram (strings never shuffle);
      2. flagged (doc, position) cover set: gram occurrences of
         non-canonical docs joined to the duplicated-gram set, exploded
         to the n covered positions, deduped;
      3. final per-doc rebuild: tokens anti-joined against the cover set,
         collected as (pos, tok) structs and array_sort'ed — sorting
         happens inside each doc's aggregation buffer, no global sort.
    Token positions ride as ints; only the surviving tokens are ever
    re-materialized as text."""
    from nnanalytics_spark.pipeline.text import tokens as _tokens

    toks = df.select(
        F.col(id_col).alias("id"),
        # the SHARED tokenizer, so span positions line up with every
        # other operator's token indices (empty-string convention incl.)
        _tokens(F.lower(F.col(text))).alias("t"),
    ).filter(F.length(F.trim(F.col(text))) > 0)
    # gram occurrences with their start positions (1-based). Docs shorter
    # than n have no grams: sequence(1, 0) would DESCEND ([1, 0]) and
    # slice(t, 0, n) is a runtime error, so the whole sequence is gated
    # behind size >= n and short docs emit an empty gram array instead.
    gram_seq = F.when(
        F.size("t") >= n, F.sequence(F.lit(1), F.size("t") - n + 1)
    ).otherwise(F.array().cast("array<int>"))
    grams = toks.select(
        "id",
        F.explode(
            F.transform(
                gram_seq,
                # per-element element_at, not slice: slice copies
                # O(|t|) per gram (quadratic per doc; word_grams note)
                lambda i: F.struct(
                    i.alias("pos"),
                    F.xxhash64(
                        F.concat_ws(
                            " ", *[F.element_at(F.col("t"), i + k) for k in range(n)]
                        )
                    ).alias("sg"),
                ),
            )
        ).alias("g"),
    ).select("id", F.col("g.pos").alias("pos"), F.col("g.sg").alias("sg"))
    stats = grams.groupBy("sg").agg(
        F.count_distinct("id").alias("docs"), F.min("id").alias("keeper")
    )
    dup = stats.filter(F.col("docs") >= min_docs)
    covered = (
        grams.join(dup, "sg")
        .filter(F.col("id") != F.col("keeper"))
        .select("id", F.explode(F.sequence(F.col("pos"), F.col("pos") + n - 1)).alias("pos"))
        .distinct()
    )
    positions = toks.select(
        "id",
        F.size("t").alias("n_tokens"),
        F.posexplode("t").alias("pos0", "tok"),
    ).select("id", "n_tokens", (F.col("pos0") + 1).alias("pos"), "tok")
    kept = positions.join(covered, ["id", "pos"], "left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    # left join back so a fully-covered doc still emits (empty) output
    return (
        toks.select("id", F.size("t").alias("n_tokens"))
        .join(rebuilt, "id", "left")
        .select(
            F.col("id").alias("doc_id"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "n_tokens",
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0))).cast("int").alias("n_removed"),
        )
    )


# Engine-portable MinHash machinery: a polynomial shingle fingerprint
# mod a prime < 2^53 plus linear permutations h_i = (a_i·h0 + b_i) mod P
# with small odd a_i = 2i+1 — every value stays a positive int64 that an
# external SQL engine reproduces exactly ((2k+1)·(P−1)+b fits in a
# signed 64-bit long for k ≤ 64). Production keeps xxhash64 (faster,
# better-mixed); portable mode exists so the LSH pair SET itself can be
# hash-checked end to end instead of rows-only.
_PORTABLE_MINHASH_MOD = 9007199254740881


def portable_shingle_hash(sh: Column) -> Column:
    return F.aggregate(
        F.split(sh, ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + F.ascii(c)) % _PORTABLE_MINHASH_MOD,
    )


def _portable_perm(h0: Column, i: int) -> Column:
    return (
        F.lit(2 * i + 1) * h0 + F.lit(i * i + i + 41)
    ) % _PORTABLE_MINHASH_MOD


def minhash_signatures(
    df: DataFrame, text: str = "text", id_col: str = "doc_id", k: int = 64, ngram: int = 3,
    portable: bool = False,
    postings: DataFrame | None = None,
) -> DataFrame:
    """k-permutation MinHash signature per doc: permutation i is
    xxhash64(shingle, seed=i); signature[i] = min over shingles.

    Shape: explode shingles → hash each ONCE per permutation → one
    groupBy(id) with k min-aggregates. The k mins ride one partial-agg
    shuffle (map-side combine reduces each partition to one row per doc),
    and the shingle split/slice work happens exactly once per shingle —
    an array-expression formulation recomputes the tokenization k times
    because Catalyst's projection collapse re-inlines it (measured 70×
    slower at sf0.1).

    Permutation i hashes the 8-byte shingle fingerprint, not the string:
    h0 = xxhash64(shingle) once, then xxhash64(h0, seed=i) — k fixed-width
    hashes instead of k variable-length string hashes per shingle.

    ``portable=True`` swaps both hash families for the engine-portable
    polynomial + linear-permutation scheme (see module constants): same
    plan shape, SQL-reproducible values — the correctness-gate mode.
    The polynomial hash is a higher-order-function fold (outside
    whole-stage codegen, ~10x an xxhash64 call), so it is evaluated
    once per DISTINCT shingle and joined back — shingle vocabularies
    are heavy-tailed, so the distinct table is far smaller than the
    postings and usually broadcasts (AQE decides; measured 2.4x
    end-to-end on the gate corpus).

    ``postings`` (optional): a pre-built ``shingle_postings`` table
    (id, ns, shingle) shared with a sibling pipeline — the ``ns``
    column is dropped here; results are identical."""
    if postings is not None:
        _check_postings_n(postings, ngram, "minhash_signatures")
    occ = (
        postings.select("id", "shingle")
        if postings is not None
        else df.select(
            F.col(id_col).alias("id"),
            F.explode(shingles(F.col(text), ngram)).alias("shingle"),
        )
    )
    if portable:
        vocab = occ.select("shingle").distinct().select(
            "shingle", portable_shingle_hash(F.col("shingle")).alias("h0")
        )
        sh = occ.join(vocab, "shingle").select("id", "h0")
    else:
        sh = occ.select("id", F.xxhash64("shingle").alias("h0"))
    perm = (
        (lambda i: _portable_perm(F.col("h0"), i))
        if portable
        else (lambda i: F.xxhash64("h0", F.lit(i)))
    )
    # shingles are per-doc DISTINCT, so no occurrence collapse applies
    # here (cf. simhash_signatures) — the k mins ride one partial-agg
    # shuffle directly
    mins = sh.groupBy("id").agg(
        *[F.min(perm(i)).alias(f"h{i}") for i in range(k)]
    )
    return mins.select("id", F.array(*[f"h{i}" for i in range(k)]).alias("signature"))


def banded_signatures(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    k: int = 64,
    bands: int = 16,
    ngram: int = 3,
    portable: bool = False,
    postings: DataFrame | None = None,
) -> DataFrame:
    """Per-doc LSH band-bucket keys — (id, band, bucket), one row per
    band: the signature split into ``bands`` slices of r=k/bands mins,
    each slice collapsed to the bucket key the pair join shuffles on.
    This table IS the persistable LSH index: a resumable run stores it
    per corpus version and recomputes rows only for delta docs (see
    pipeline/incremental.py) — the bucket key is a pure function of
    the doc's text, so retained docs' rows never go stale. Portable
    mode buckets on the joined slice VALUE string (exact slice
    equality; SQL-reproducible), native on hash(slice)."""
    rows = k // bands
    sigs = minhash_signatures(
        df, text, id_col, k, ngram, portable=portable, postings=postings
    )

    def bucket_of(b: int):
        sl = F.slice(F.col("signature"), b * rows + 1, rows)
        if portable:
            return F.concat_ws("_", sl.cast("array<string>"))
        return F.hash(sl)

    return sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), bucket_of(b).alias("bucket"))
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")


def minhash_lsh_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    k: int = 64,
    bands: int = 16,
    ngram: int = 3,
    portable: bool = False,
    postings: DataFrame | None = None,
) -> DataFrame:
    """MinHash+LSH candidate pairs: signature split into `bands` bands of
    r=k/bands rows; docs colliding on any band hash become candidates.
    Shuffle key = (band index, band hash) — collision buckets are tiny at
    any scale unless texts truly repeat.

    Portable mode buckets on the band's joined VALUE string instead of
    murmur-hashing the slice: bucket equality then means exact slice
    equality (strictly more precise than a 32-bit hash — no spurious
    hash-collision candidates), and an external SQL engine rebuilds the
    identical key."""
    banded = banded_signatures(
        df, text, id_col, k, bands, ngram, portable=portable, postings=postings
    )
    if portable:
        # the self-join references the banded table twice; in portable
        # mode the signature subtree carries HOF lambdas (the polynomial
        # shingle hash), whose variable ids defeat plan canonicalization,
        # so ReusedExchange can NOT collapse the two sides and the whole
        # shingle+k-min pipeline would execute twice (the simhash
        # materialize_sigs lesson). Native mode reuses the exchange and
        # needs no cut.
        banded = banded.localCheckpoint(eager=False)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def lsh_verified_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    k: int = 64,
    bands: int = 16,
    ngram: int = 3,
    portable: bool = False,
) -> DataFrame:
    """The scale path for EXACT near-dup pairs: MinHash+LSH proposes
    candidates, exact n-gram Jaccard verifies only those.

    ngram_jaccard_pairs alone is exact but materializes every co-occurring
    pair — measured quadratic on the synthetic corpus (73M pairs / 95 s at
    40 K docs, local[32]). Here the pair space is |candidates| (LSH
    collisions only): two broadcast-joins attach the (distinct) shingle
    arrays to each candidate side and the Jaccard is a per-pair
    array_intersect — no inverted-index self-join at all. Precision is
    exact (every emitted pair's Jaccard is true and ≥ threshold); recall
    is the LSH recall at (k, bands)."""
    candidates = minhash_lsh_pairs(df, text, id_col, k, bands, ngram, portable=portable)
    sets_ = df.select(F.col(id_col).alias("id"), shingles(F.col(text), ngram).alias("sh"))
    a = sets_.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sets_.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash(text_col: Column, bits: int = 64) -> Column:
    """SimHash as a single COLUMN expression: per token, xxhash64
    supplies the bit pattern; each bit position accumulates +1/-1 by
    token; the sign vector re-packs into a 64-bit fingerprint. Pure
    expressions, no UDF, no shuffle — but each of the ``bits``
    aggregates re-evaluates the tokenize+hash argument (the HOF
    re-evaluation rule), a 64x constant per row. Convenient for ad-hoc
    per-row use; corpus-scale signature builds should use
    ``simhash_signatures`` (explode + one count-collapsed aggregate,
    hash computed once per distinct token)."""
    toks = F.split(F.lower(F.trim(text_col)), r"\s+")
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    def mask(i: int) -> int:
        return -(1 << 63) if i == 63 else (1 << i)

    def bit_sum(i: int):
        # closure (not a default arg): aggregate's merge lambda must be
        # exactly 2-ary or pyspark misbinds the parameters
        return F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc + F.when(h.bitwiseAND(F.lit(mask(i))) != 0, 1).otherwise(-1),
        )

    bit_sums = [bit_sum(i) for i in range(bits)]
    out = F.lit(0).cast("long")
    for i, s in enumerate(bit_sums):
        # bit 63 is the sign bit: 1<<63 overflows a signed long, but adding
        # -(2^63) builds the identical two's-complement pattern.
        out = out + F.when(s > 0, F.lit(mask(i)).cast("long")).otherwise(F.lit(0).cast("long"))
    return out


def simhash_signatures(
    df: DataFrame, text: str = "text", id_col: str = "doc_id", bits: int = 64,
    token_hash=None,
) -> DataFrame:
    """SimHash via explode+aggregate (same rationale as
    minhash_signatures): token hash computed once, one partial-agg pass,
    bit-pack at the end.

    Per bit the aggregate is sum((h >>> i) & 1) — a shift+and instead of a
    predicated ±1 (2.8× faster end-to-end; branch-free stays in codegen's
    happy path). The ±1 sign-sum s_i relates to the set-bit count c_i by
    s_i = 2·c_i − T, so the sign test s_i > 0 becomes 2·c_i > T —
    signatures are bit-identical to the classical formulation.

    ``token_hash`` (Column -> Column) overrides the per-token hash —
    default xxhash64 for production; an engine-portable polynomial hash
    lets an external SQL engine reproduce signatures bit-for-bit (the
    correctness-gate path)."""

    def mask(i: int) -> int:
        return -(1 << 63) if i == 63 else (1 << i)

    occ = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.lower(F.trim(F.col(text))), r"\s+")).alias("tok"),
    )
    if token_hash is not None:
        # custom hashes are typically higher-order-function folds (the
        # portable polynomial) — outside codegen, so hash each DISTINCT
        # token once and join back; token vocabularies are Zipfian, so
        # the distinct table is tiny vs the occurrence stream (measured
        # 8x end-to-end on the gate corpus vs hashing per occurrence)
        vocab = occ.select("tok").distinct().select(
            "tok", token_hash(F.col("tok")).alias("h")
        )
        toks = occ.join(vocab, "tok").select("id", "h")
    else:
        toks = occ.select("id", F.xxhash64(F.col("tok")).alias("h"))
    # collapse occurrences to (doc, hash) COUNTS before the wide per-bit
    # aggregate: the 2-key count is a cheap map-side-combined pass, and
    # the `bits` shift/and sums then run over |docs|·|distinct tokens
    # per doc| rows instead of every occurrence — on a Zipfian corpus
    # that is the repetition factor (~7x here; measured 5.2 s -> 1.5 s
    # for the signature stage at sf0.1). s_i = Σ cnt·((h>>i)&1) is
    # identical arithmetic, so signatures are bit-for-bit unchanged.
    per_tok = toks.groupBy("id", "h").agg(F.count(F.lit(1)).alias("cnt"))
    sums = per_tok.groupBy("id").agg(
        F.sum("cnt").alias("T"),
        *[
            F.sum(
                F.col("cnt") * F.shiftrightunsigned("h", i).bitwiseAND(F.lit(1))
            ).alias(f"c{i}")
            for i in range(bits)
        ],
    )
    sig = F.lit(0).cast("long")
    for i in range(bits):
        sig = sig + F.when(2 * F.col(f"c{i}") > F.col("T"), F.lit(mask(i)).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return sums.select("id", sig.alias("sig"))


def _simhash_block_keys(sigs: DataFrame, blocks: int, bits: int) -> DataFrame:
    """Explode an (id, sig) table into one row per (block index q,
    block value v): contiguous bit fields of width bits//blocks, the
    last block absorbing the remainder (Manku et al.'s multi-table
    split). Pure shift/mask expressions."""
    width = bits // blocks
    defs = []  # (q, shift, width)
    for q in range(blocks):
        w = width + (bits - width * blocks if q == blocks - 1 else 0)
        defs.append((q, q * width, w))
    def field(sh: int, w: int):
        # a full-width field needs no mask — and (1<<64)-1 would not fit
        # a signed long literal anyway (the blocks=1 degenerate case)
        shifted = F.shiftrightunsigned("sig", sh)
        return shifted if w >= 64 else shifted.bitwiseAND(F.lit((1 << w) - 1))

    return sigs.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(q).alias("q"), field(sh, w).alias("v"))
                    for q, sh, w in defs
                ]
            )
        ).alias("blk"),
    ).select("id", "sig", F.col("blk.q").alias("q"), F.col("blk.v").alias("v"))


def simhash_pairs_from_sigs(
    sigs: DataFrame,
    max_hamming: int = 3,
    blocks: int = 4,
    bits: int = 64,
    materialize_sigs: bool = False,
) -> DataFrame:
    """Block-partitioned Hamming pairs over an (id, sig) table.

    Each signature emits ``blocks`` block keys — contiguous bit fields of
    width bits//blocks (the last block absorbs the remainder) — and
    candidates are pairs agreeing on at least one (block, value) key.
    Pigeonhole: a pair within Hamming distance ``blocks - 1`` differs in
    at most blocks-1 blocks, so at least one block matches exactly —
    recall is GUARANTEED (not probabilistic) whenever
    ``blocks >= max_hamming + 1``. The default (blocks=4, max_hamming=3)
    is the classic quadrant split; a looser radius needs more blocks
    (e.g. blocks=8 covers max_hamming<=7) — callers violating the bound
    keep a best-effort candidate set (a pair just needs SOME clean
    block) but lose the guarantee.

    Picking ``blocks`` at 100 TB is a recall/fan-out dial: more blocks →
    narrower fields → fewer distinct bucket values → bigger buckets →
    more candidate pairs before the hamming filter (each bucket of size
    c contributes c·(c−1)/2). Run ``simhash_block_diagnostic`` on the
    signature table first and size blocks so the estimated candidate
    count stays tractable; 4×16-bit is right for billions of docs at
    radius 3, 6×~10-bit trades ~4000× bigger buckets for radius-5
    coverage. Either way the plan is a pure equi-join on a (block,
    value) key — no theta join, no all-pairs. A pair matching in k
    blocks surfaces k times; ``distinct()`` collapses those duplicates
    (hamming is a pure function of the pair, so the dedup key is just
    (id_a, id_b))."""
    # ``materialize_sigs``: compute the signature table ONCE (eager
    # localCheckpoint — (id, sig) is ~16 bytes/doc, checkpointable at any
    # corpus size) instead of letting the self-join rebuild the full
    # token-hash pipeline per side. Catalyst's ReusedExchange cannot
    # collapse the two sides here because the signature expressions
    # contain higher-order-function lambdas, whose variable ids defeat
    # subtree canonicalization — measured 1.5× at sf0.1 with the
    # polynomial token hash. Off by default: cheap (arithmetic)
    # signature sources don't repay the checkpoint job.
    if materialize_sigs:
        # LAZY (the dup_clusters discipline): an eager checkpoint runs a
        # dedicated materialization job before the pair join's own job;
        # lazy persists the signature partitions inside the first action
        # instead — one job fewer, both join sides still read the single
        # persisted copy (r9-opt paired A/B: ~1.7 s at sf0.1)
        sigs = sigs.localCheckpoint(eager=False)
    keyed = _simhash_block_keys(sigs, blocks, bits)
    a, b = keyed.alias("a"), keyed.alias("b")
    xor = F.col("a.sig").bitwiseXOR(F.col("b.sig"))
    return (
        a.join(
            b,
            (F.col("a.q") == F.col("b.q"))
            & (F.col("a.v") == F.col("b.v"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .withColumn("hamming", F.bit_count(xor))
        .filter(F.col("hamming") <= max_hamming)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "hamming")
        .distinct()
    )


def simhash_block_diagnostic(
    sigs: DataFrame, blocks: int = 4, bits: int = 64
) -> DataFrame:
    """Bucket-size report for a candidate ``blocks`` split — the number
    to check BEFORE launching the pair join at scale: per block,
    (n_buckets, max_bucket, p99_bucket, candidate_pairs) where
    candidate_pairs = Σ c·(c−1)/2 over that block's buckets — exactly
    the pre-filter join output the split would generate. If the total
    across blocks is intractable, use fewer/wider blocks (or hash-salt
    hot buckets). Two aggregates: one keyed count over (block, value),
    one |buckets|-row reduction — costs far less than a bad join."""
    counts = _simhash_block_keys(sigs, blocks, bits).groupBy("q", "v").agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        counts.groupBy("q")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("c").alias("max_bucket"),
            F.percentile("c", F.lit(0.99)).cast("decimal(18,2)").cast("double").alias("p99_bucket"),
            F.sum(F.col("c") * (F.col("c") - 1) / 2).cast("long").alias("candidate_pairs"),
        )
        .withColumnRenamed("q", "block")
    )


def dup_clusters(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Connected components over the near-dup pair graph: every document
    gets cluster = min(doc id reachable through pairs), so each dup group
    collapses to one canonical keeper (the training-pipeline step after
    pair generation — pairs alone can't answer "which rows do I drop").

    Iterative min-label propagation: each round joins labels to the
    (symmetrized) edge list, takes the per-node min of self + neighbor
    labels, and stops when no label changed. Rounds = graph diameter in
    the worst case — near-dup graphs are overwhelmingly tiny cliques, so
    2-3 rounds in practice. Each round is ONE shuffle (join keyed on the
    8-byte node id + partial-agg min), and localCheckpoint() cuts the
    lineage so plan size stays constant; at cluster scale swap in
    checkpoint() on durable storage. This is the
    label-propagation half of large-star/small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14).

    Measured (r4): convergence takes 2 rounds on both the sf0.01 and
    sf0.1 pair graphs — near-dup components really are cliques. Path
    halving (joining labels to labels, cluster <- label(label(node)))
    would cut long chains to O(log d) rounds but only pays past ~3
    rounds; with no such chains observed it would add a second shuffle
    per round for nothing, so it is deliberately not implemented.
    """
    # symmetrize via ONE explode pass, not union(select, select): a union
    # re-executes the whole pair-generation lineage once per branch on
    # first materialization (callers hand us the raw near-dup pair plan —
    # shingle index + self-join + aggregate — so that doubling is the
    # single most expensive redundancy in every clustering consumer;
    # the explode form generates the same rows in one pass).
    #
    # every localCheckpoint here is LAZY (eager=False): the convergence
    # sum below is the round's single action, and it materializes AND
    # persists the new label table in the same job. Eager checkpoints
    # doubled every round's job count (materialize, then sum) — measured
    # ~2× one-shot wall on the bench corpus.
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
                F.struct(F.col("id_b").alias("src"), F.col("id_a").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst").localCheckpoint(eager=False)
    # propagate only over nodes that appear in an edge: isolated documents
    # (the overwhelming majority of a corpus) can never change label, so
    # they stay out of every round's shuffle and rejoin at the end. The
    # iterating label table is sized by the dup GRAPH, not the corpus.
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("cluster", F.col("node"))
        .localCheckpoint(eager=False)
    )
    prev_sum = None
    while True:
        prop = (
            edges.join(labels, edges["src"] == labels["node"])
            .select(F.col("dst").alias("node"), "cluster")
        )
        labels = (
            labels.unionByName(prop).groupBy("node").agg(F.min("cluster").alias("cluster"))
        ).localCheckpoint(eager=False)
        # labels only ever decrease, so the label sum strictly drops while
        # anything is still propagating — one scalar agg per round instead
        # of a join against the previous labels. Summed as decimal(38,0):
        # a long sum over xxhash64-sized labels overflows int64 (and throws
        # under ANSI mode) long before the corpus is large.
        cur_sum = labels.agg(
            F.sum(F.col("cluster").cast("decimal(38,0)"))
        ).first()[0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    # isolated docs: cluster = own id (left join keeps one row per doc)
    return (
        df.select(F.col(id_col).alias("node"))
        .join(labels, "node", "left")
        .select("node", F.coalesce("cluster", F.col("node")).alias("cluster"))
    )


def contamination_pairs(
    train: DataFrame,
    evals: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_overlap_frac: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Benchmark-contamination scan: for each (train doc, eval doc) pair,
    the fraction of the EVAL doc's n-gram shingles that appear in the
    train doc — asymmetric containment, not Jaccard, because a long train
    document that swallows a short eval item whole is exactly the case to
    catch.

    Same inverted-index shape as ngram_jaccard_pairs (explode → equi-join
    on the 8-byte shingle hash → pair-count aggregate), so the pair space
    only materializes where shingles actually collide; the eval side is
    the small side by construction and its per-doc shingle count rides
    the postings, so no extra joins. Emits pairs with
    overlap_frac ≥ min_overlap_frac.

    ``max_shingle_df`` (skew bound, same rationale as ngram_jaccard_pairs):
    when set, shingles whose TRAIN-side document frequency exceeds the
    cutoff are dropped from candidate generation; exact overlap values
    are recovered as rare-join count + hot-list intersect, pair space
    bounded by max_df · |postings|.
    """
    tr_sets = train.select(
        F.col(id_col).alias("train_id"), shingles(F.col(text), n).alias("sh")
    )
    ev_sets = evals.select(
        F.col(id_col).alias("eval_id"), shingles(F.col(text), n).alias("sh")
    )
    tr = tr_sets.select("train_id", F.explode("sh").alias("shingle")).select(
        "train_id", F.xxhash64("shingle").alias("sg")
    )
    ev = (
        ev_sets.select("eval_id", F.size("sh").alias("n_eval"), F.explode("sh").alias("shingle"))
        .select("eval_id", "n_eval", F.xxhash64("shingle").alias("sg"))
    )
    if max_shingle_df is not None:
        # same split as ngram_jaccard_pairs: hot shingles (train-side
        # df > cutoff, a corpus-small broadcast set) are excluded from
        # candidate generation; the common count is rare-join count plus
        # a per-candidate intersect of the tiny per-doc hot lists, so
        # overlap values stay exact and full shingle sets never shuffle.
        # Train-side document frequency via a sg-partitioned window: the
        # window's hash(sg) exchange is the same partitioning the sg
        # equi-join needs, so the rare join and the hot split read one
        # reused exchange instead of a separate df-count pass + anti-join
        # (same formulation as ngram_jaccard_pairs).
        from pyspark.sql import Window as W

        trw = tr.withColumn("df", F.count(F.lit(1)).over(W.partitionBy("sg")))
        tr_rare = trw.filter(F.col("df") <= max_shingle_df).drop("df")
        tr_hot = trw.filter(F.col("df") > max_shingle_df).drop("df")
        hits_rare = (
            tr_rare.join(ev, "sg")
            .groupBy("train_id", "eval_id")
            .agg(F.count(F.lit(1)).alias("c_rare"), F.first("n_eval").alias("n_eval"))
        )
        hot_t = tr_hot.groupBy("train_id").agg(F.collect_list("sg").alias("hot_t"))
        # the distinct hot-shingle set is corpus-small by construction →
        # broadcast it to filter the eval postings
        hot_sgs = tr_hot.select("sg").distinct()
        hot_e = (
            ev.join(F.broadcast(hot_sgs), "sg")
            .groupBy("eval_id")
            .agg(F.collect_list("sg").alias("hot_e"))
        )
        empty = F.array().cast("array<bigint>")
        return (
            hits_rare.join(hot_t, "train_id", "left")
            .join(hot_e, "eval_id", "left")
            .withColumn(
                "n_common",
                F.col("c_rare")
                + F.size(F.array_intersect(F.coalesce("hot_t", empty), F.coalesce("hot_e", empty))),
            )
            .withColumn("overlap_frac", F.round(F.col("n_common") / F.col("n_eval"), 6))
            .filter(F.col("overlap_frac") >= min_overlap_frac)
            .select("train_id", "eval_id", "n_common", "overlap_frac")
        )
    hits = (
        tr.join(ev, "sg")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_common"), F.first("n_eval").alias("n_eval"))
    )
    return (
        hits.withColumn("overlap_frac", F.round(F.col("n_common") / F.col("n_eval"), 6))
        .filter(F.col("overlap_frac") >= min_overlap_frac)
        .select("train_id", "eval_id", "n_common", "overlap_frac")
    )


def incremental_exact_dedup(
    new: DataFrame,
    corpus: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup an INCOMING batch against an existing corpus and itself —
    the production shape of exact dedup, where the corpus is petabytes
    and each ingest batch is comparatively tiny. A row of ``new``
    survives iff (a) its normalized text matches no corpus document and
    (b) it is the canonical (lowest-id) copy within the batch.

    Join strategy is written for that asymmetry: a plain
    ``new LEFT ANTI corpus`` would broadcast (or shuffle) the CORPUS —
    the big side. Instead the batch's distinct keys broadcast INTO a
    semi-join that filters the corpus scan down to the collision set
    (corpus-small by construction), and the batch anti-joins against
    that. The corpus is touched by exactly one broadcast-filtered scan;
    nothing corpus-sized ever shuffles."""
    norm = normalized(F.col(text))
    batch = new.withColumn("norm_text", norm)
    batch_keys = batch.select("norm_text").distinct()
    collisions = (
        corpus.select(norm.alias("norm_text"))
        .join(F.broadcast(batch_keys), "norm_text", "left_semi")
        .distinct()
    )
    winners = batch.groupBy("norm_text").agg(F.min(id_col).alias(id_col))
    return (
        winners.join(F.broadcast(collisions), "norm_text", "left_anti")
        .join(batch.drop("norm_text"), id_col)
    )


def keep_best(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    quality_col: str | None = None,
    key: Column | None = None,
) -> DataFrame:
    """Exact-dup survivor selection: one kept document per duplicate
    group, chosen by quality — not just ``min(id)``.

    ``exact_dedup`` answers "how many dups"; this answers "which copy do
    we keep": the group winner maximizes (quality, -doc_id), i.e. highest
    ``quality_col`` (doc length when None) with the lowest id as the
    deterministic tie-break. One hash-aggregate shuffle via ``max_by``
    over a comparable struct — no window, no second pass, and the
    argmax rides the same map-side partial aggregation that collapses
    duplicate groups before the exchange (a row_number window would
    force a full sort within every group instead).

    ``key`` overrides the duplicate-group key (default: the normalized
    full text — exact dedup). Pass a coarser canonical key (content
    prefix, paragraph fingerprint, cluster id) to pick one survivor
    per NEAR-dup family with the same single-shuffle plan."""
    q = F.col(quality_col) if quality_col else F.length(F.col(text))
    rank = F.struct(q.alias("q"), (-F.col(id_col)).alias("nid"))
    group_key = key if key is not None else normalized(F.col(text))
    return df.groupBy(group_key.alias("norm_text")).agg(
        F.max_by(F.col(id_col), rank).alias("keep_id"),
        F.max(q).alias("keep_quality"),
        F.count(F.lit(1)).alias("dup_count"),
    )


def capture_recapture(
    pairs_a: DataFrame,
    pairs_b: DataFrame,
    z: float = 1.959964,
) -> DataFrame:
    """Chapman capture-recapture estimate of the TRUE near-duplicate
    pair population from two independent detectors — the ecology
    estimator (Chapman 1951) applied to dedup QA: detector A found n1
    pairs, detector B found n2, they agree on m, so
    N̂ = (n1+1)(n2+1)/(m+1) − 1 estimates how many near-dup pairs exist
    INCLUDING the ones both methods missed, and N̂ − |A ∪ B| is the
    blind spot neither method sees. The honest answer to "is 95%
    agreement good?" — it depends how much both missed.

    Variance (Seber 1970):
    var = (n1+1)(n2+1)(n1−m)(n2−m)/((m+1)²(m+2)), CI = N̂ ± z·√var.
    Independence caveat in the docstring is the contract: correlated
    detectors (e.g. two lexical methods) bias N̂ low.

    Inputs are (id_a, id_b) pair tables; one full-outer join of slim
    pair sets + closed-form arithmetic on the three counts. Returns
    one row: n_a, n_b, n_both, n_union, n_hat, se, ci_lo, ci_hi,
    miss_hat (= n_hat − n_union, clamped at 0)."""
    a = pairs_a.select("id_a", "id_b", F.lit(True).alias("_a"))
    b = pairs_b.select("id_a", "id_b", F.lit(True).alias("_b"))
    j = a.join(b, ["id_a", "id_b"], "full_outer")
    counts = j.agg(
        F.sum(F.when(F.col("_a").isNotNull(), 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("_b").isNotNull(), 1).otherwise(0)).alias("n_b"),
        F.sum(
            F.when(F.col("_a").isNotNull() & F.col("_b").isNotNull(), 1).otherwise(0)
        ).alias("n_both"),
        F.count(F.lit(1)).alias("n_union"),
    )
    n1, n2, m = [F.col(c).cast("double") for c in ("n_a", "n_b", "n_both")]
    n_hat = (n1 + 1) * (n2 + 1) / (m + 1) - 1
    var = (
        (n1 + 1) * (n2 + 1) * (n1 - m) * (n2 - m)
        / ((m + 1) * (m + 1) * (m + 2))
    )
    se = F.sqrt(var)
    return counts.select(
        "n_a",
        "n_b",
        "n_both",
        "n_union",
        F.round(n_hat, 6).alias("n_hat"),
        F.round(se, 6).alias("se"),
        F.round(n_hat - F.lit(z) * se, 6).alias("ci_lo"),
        F.round(n_hat + F.lit(z) * se, 6).alias("ci_hi"),
        F.round(
            F.greatest(n_hat - F.col("n_union").cast("double"), F.lit(0.0)), 6
        ).alias("miss_hat"),
    )


def survivor_diff(
    old: DataFrame,
    new: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    quality_col: str | None = None,
    key: Column | None = None,
) -> DataFrame:
    """Corpus-version manifest diff (VERDICT r7 #8): which documents
    ENTERED or LEFT the dedup survivor set between two corpus
    snapshots, and WHY — the audit a curation team reads after every
    incremental ingest ("we added 40k docs; why did 300 old survivors
    disappear?"). Survivors are ``keep_best`` winners (quality-ranked,
    id tie-break), so the diff explains churn beyond raw adds:

    - entered/added     — content new to the corpus, wins its group
    - entered/promoted  — the doc existed before but was shadowed; its
                          group's old winner was removed or outranked
    - left/removed      — the old survivor is gone from the new corpus
    - left/displaced    — still present, but another copy now outranks
                          it (better quality, or a lower-id tie)

    Output: (id, change, reason), one row per changed survivor.

    Cost: one keep_best hash-aggregate per snapshot plus id-only
    joins — linear, two shuffles, no pair space. At 100 TB you would
    not rescan both snapshots: persist each version's survivor
    manifest (keep_best output is exactly that) and corpus id list,
    and feed those to the same joins — the classification below never
    needs the text again. ``key`` passes through to keep_best: the
    default groups exact-normalized text; a coarser canonical key
    (content prefix, cluster id) diffs near-dup family survivors."""
    sa = keep_best(old, text, id_col, quality_col, key=key).select(
        F.col("keep_id").alias(id_col)
    )
    sb = keep_best(new, text, id_col, quality_col, key=key).select(
        F.col("keep_id").alias(id_col)
    )
    old_ids = old.select(id_col).distinct().withColumn("_in_old", F.lit(True))
    new_ids = new.select(id_col).distinct().withColumn("_in_new", F.lit(True))
    entered = (
        sb.join(sa, id_col, "left_anti")
        .join(old_ids, id_col, "left")
        .select(
            id_col,
            F.lit("entered").alias("change"),
            F.when(F.col("_in_old"), "promoted").otherwise("added").alias("reason"),
        )
    )
    left = (
        sa.join(sb, id_col, "left_anti")
        .join(new_ids, id_col, "left")
        .select(
            id_col,
            F.lit("left").alias("change"),
            F.when(F.col("_in_new"), "displaced").otherwise("removed").alias("reason"),
        )
    )
    return entered.unionByName(left)


def decontaminate(
    train: DataFrame,
    evals: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_overlap_frac: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Corpus decontamination: drop every train document whose n-gram
    overlap with ANY eval document reaches ``min_overlap_frac`` — the
    rewrite half of ``contamination_pairs`` (scan reports, this cleans),
    mirroring how ``remove_dup_spans`` complements ``dup_ngram_coverage``.

    Implemented as a LEFT ANTI join of the train corpus against the
    distinct contaminated-id set, so the heavy work is exactly the
    already-bounded contamination scan; the anti-join's right side is
    |contaminated docs| — corpus-small — and broadcasts. Returns the
    cleaned train corpus with its original columns."""
    bad = (
        contamination_pairs(
            train,
            evals,
            text=text,
            id_col=id_col,
            n=n,
            min_overlap_frac=min_overlap_frac,
            max_shingle_df=max_shingle_df,
        )
        .select(F.col("train_id").alias(id_col))
        .distinct()
    )
    return train.join(F.broadcast(bad), id_col, "left_anti")


def paragraph_dedup(
    df: DataFrame,
    chunk_words: int = 16,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Paragraph-level exact dedup with corpus rewrite (the Dolma /
    RefinedWeb recipe): split every document into paragraphs, keep only
    the GLOBALLY FIRST occurrence of each distinct paragraph (ordered by
    (doc_id, paragraph index)), and reassemble each document from its
    surviving paragraphs in original order.

    The driver corpus has no newline structure, so "paragraph" here is a
    deterministic fixed-width token chunk (``chunk_documents``); with
    real text you would split on blank lines instead — the dedup/rewrite
    machinery below is unchanged either way.

    Two shuffles, both keyed: a row_number window partitioned by the
    paragraph text picks each paragraph's first occurrence (ONE exchange
    — cheaper than groupBy-min + a text-keyed join back), and the
    reassembly groupBy(doc) re-sorts surviving chunks by index. At
    100 TB you would window over xxhash64(paragraph)'s 128-bit sibling
    rather than the raw string to keep exchange rows narrow; the string
    key keeps this exact for the oracle. Emits per-doc chunk counts and
    an md5 of the rewritten text so the whole rewrite is hash-checkable.
    """
    from pyspark.sql import Window as W

    from nnanalytics_spark.pipeline.sampling import chunk_documents

    chunks = chunk_documents(df, max_tokens=chunk_words, text=text, id_col=id_col)
    w = W.partitionBy("chunk_text").orderBy(F.col(id_col).asc(), F.col("chunk_idx").asc())
    kept = (
        chunks.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk_text"))),
                lambda s: s["chunk_text"],
            ),
            " ",
        ).alias("new_text"),
    )
    totals = chunks.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_chunks"))
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            id_col,
            "n_chunks",
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
            F.md5(F.coalesce(F.col("new_text"), F.lit(""))).alias("text_md5"),
        )
    )


def edit_distance_pairs(
    df: DataFrame,
    max_dist: int = 16,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    max_shingle_df: int = 100,
) -> DataFrame:
    """Near-dup pairs verified by EXACT edit distance: candidates from
    the bounded inverted shingle index (pairs sharing any rare
    n-word-gram, df <= max_shingle_df — the ngram_jaccard_pairs
    candidate generator), then two cheap admissible prefilters
    (|len_a − len_b| <= max_dist; both already candidates), then
    ``levenshtein(text_a, text_b, max_dist)`` — Spark's thresholded
    variant runs the banded O(d·min(m,n)) algorithm and bails at
    max_dist+1 instead of filling the full O(m·n) matrix, which is what
    makes exact verification affordable on document-length strings.
    Set-based Jaccard misses transpositions/small edits inside shingles;
    edit distance is the character-level ground truth the fuzzy-dedup
    literature verifies against.

    Plan: candidate pairs (bounded by the df cap) shuffle WITHOUT text;
    texts join in afterwards keyed by id — at 100 TB the pair table is
    corpus-small, so AQE broadcasts it against the doc table and the
    full text column never shuffles.

    NOTE: the candidate stage below intentionally mirrors
    ngram_jaccard_pairs' rare-shingle generator (explode -> xxhash64 ->
    window df cap -> sg self-join); if the cap semantics or hash key
    change THERE, change them HERE and in the edit_distance_pairs /
    triangle_counts DuckDB oracles too."""
    sh = (
        df.select(F.col(id_col).alias("id"), shingles(F.col(text), n).alias("sh"))
        .select("id", F.explode("sh").alias("shingle"))
        .select("id", F.xxhash64("shingle").alias("sg"))
    )
    from pyspark.sql import Window as W

    dfw = sh.withColumn("dfc", F.count(F.lit(1)).over(W.partitionBy("sg")))
    rare = dfw.filter(F.col("dfc") <= max_shingle_df).drop("dfc")
    a, b = rare.alias("a"), rare.alias("b")
    cand = (
        a.join(b, (F.col("a.sg") == F.col("b.sg")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    ta = df.select(
        F.col(id_col).alias("id_a"),
        F.col(text).alias("text_a"),
        F.length(text).alias("len_a"),
    )
    tb = df.select(
        F.col(id_col).alias("id_b"),
        F.col(text).alias("text_b"),
        F.length(text).alias("len_b"),
    )
    joined = (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .filter(F.abs(F.col("len_a") - F.col("len_b")) <= max_dist)
    )
    dist = F.levenshtein("text_a", "text_b", max_dist)
    return (
        joined.select("id_a", "id_b", dist.alias("edit_dist"))
        .filter((F.col("edit_dist") >= 0) & (F.col("edit_dist") <= max_dist))
        .orderBy("edit_dist", "id_a", "id_b")
    )


def pair_set_agreement(pairs_a: DataFrame, pairs_b: DataFrame) -> DataFrame:
    """Agreement report between two near-dup pair sets — the method-
    comparison table a curation team reads before choosing lexical vs
    semantic dedup (or before trusting a cheap method to approximate an
    expensive one): |A|, |B|, |A∩B|, and the pair-set Jaccard.

    Both inputs are (id_a, id_b) with id_a < id_b. ONE full-outer join
    on the pair key, one scalar aggregate — the sets are pair tables
    (already candidate-bounded by their producers), so this costs a
    keyed join of two slim tables, never touching corpus rows."""
    a = pairs_a.select("id_a", "id_b", F.lit(True).alias("_a"))
    b = pairs_b.select("id_a", "id_b", F.lit(True).alias("_b"))
    j = a.join(b, ["id_a", "id_b"], "full_outer")
    return j.agg(
        F.sum(F.when(F.col("_a").isNotNull(), 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("_b").isNotNull(), 1).otherwise(0)).alias("n_b"),
        F.sum(
            F.when(F.col("_a").isNotNull() & F.col("_b").isNotNull(), 1).otherwise(0)
        ).alias("n_both"),
        F.round(
            F.sum(
                F.when(F.col("_a").isNotNull() & F.col("_b").isNotNull(), 1).otherwise(0)
            ).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("agreement_jaccard"),
    )


def split_leakage(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.6,
    test_permille: int = 200,
    max_shingle_df: int | None = 100,
) -> DataFrame:
    """Train/test split leakage audit — the QA gate between the split ops
    and the dedup ops: how many near-duplicate pairs STRADDLE the split
    boundary (a test doc with a train near-twin inflates eval scores;
    the cluster-aware splitter exists precisely to zero this number).
    Returns the 3-cell pair matrix (train-train / test-test / and the
    leak cell train-test) with counts and mean similarity.

    Composition of audited parts: the deterministic hash split
    (sampling.train_test_split) and the inverted-index Jaccard pairs —
    the pair table is the expensive leg and it is the SAME banded plan
    ngram_jaccard_pairs runs; the split labels join on the id (two
    broadcast-friendly joins against a projection of the corpus)."""
    from nnanalytics_spark.pipeline.sampling import train_test_split

    split = train_test_split(
        df.select(id_col), test_permille=test_permille, id_col=id_col
    ).select(F.col(id_col).alias("sid"), "split")
    pairs = ngram_jaccard_pairs(
        df, text=text, id_col=id_col, n=n, threshold=threshold,
        max_shingle_df=max_shingle_df,
    )
    labeled = (
        pairs.join(
            split.select(F.col("sid").alias("id_a"), F.col("split").alias("split_a")),
            "id_a",
        )
        .join(
            split.select(F.col("sid").alias("id_b"), F.col("split").alias("split_b")),
            "id_b",
        )
        # normalize the unordered cell label so (train, test) and
        # (test, train) land in ONE leak cell
        .withColumn("cell_lo", F.least("split_a", "split_b"))
        .withColumn("cell_hi", F.greatest("split_a", "split_b"))
    )
    return labeled.groupBy("cell_lo", "cell_hi").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.floor(F.col("jaccard") * 1_000_000)).alias("jaccard_ppm_sum"),
    )


def eval_ngram_coverage(
    corpus: DataFrame,
    eval_docs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Per-eval-document n-gram coverage against a training corpus: the
    fraction of the eval doc's distinct n-grams that appear ANYWHERE in
    the corpus — the aggregate memorization-risk view that complements
    the pairwise contamination scan (which answers "which training doc
    leaked"; this answers "how much of the benchmark is coverable at
    all"). Coverage ≈ 1 means the benchmark can be answered from surface
    recall; report it before trusting an eval delta.

    Plan: the corpus collapses to its DISTINCT gram-hash set once (one
    aggregate — at 100 TB this is the big but shuffle-friendly leg);
    eval grams (tiny side) LEFT SEMI join into it for the hit count.
    Join keys are 8-byte xxhash64 grams."""
    cg = (
        corpus.select(F.explode(shingles(F.col(text), n)).alias("g"))
        .select(F.xxhash64("g").alias("sg"))
        .distinct()
    )
    eg = eval_docs.select(
        F.col(id_col).alias("eval_id"), F.explode(shingles(F.col(text), n)).alias("g")
    ).select("eval_id", F.xxhash64("g").alias("sg"))
    totals = eg.groupBy("eval_id").agg(F.count(F.lit(1)).alias("n_grams"))
    hits = (
        eg.join(cg, "sg", "left_semi")
        .groupBy("eval_id")
        .agg(F.count(F.lit(1)).alias("n_covered"))
    )
    return (
        totals.join(hits, "eval_id", "left")
        .select(
            "eval_id",
            "n_grams",
            F.coalesce("n_covered", F.lit(0)).alias("n_covered"),
            F.round(
                F.coalesce("n_covered", F.lit(0)) / F.col("n_grams"), 6
            ).alias("coverage"),
        )
    )


def prefix_filter_pairs(
    df: DataFrame,
    threshold: float,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact word-set Jaccard pairs via PPJoin-style prefix filtering
    (Xiao et al., "Efficient Similarity Joins for Near Duplicate
    Detection", WWW'08): a LOSSLESS candidate bound, unlike
    ngram_jaccard_pairs' ``max_shingle_df`` cap (which buys skew safety
    by dropping all-hot-shingle pairs).

    The theorem: order every document's token set by one global total
    order and index only its first p = |x| − ⌈t·|x|⌉ + 1 tokens; any
    pair with Jaccard ≥ t MUST collide on at least one indexed token
    (if the prefixes are disjoint, the overlap is at most the suffix
    length, which pigeonholes below t). Ordering by ASCENDING document
    frequency puts the rarest tokens in the prefixes, so the hottest
    tokens — the d² blowup in any inverted-index join — are structurally
    excluded from candidate generation, with zero recall loss. The
    length filter (min-size ≥ t·max-size, a Jaccard upper bound) prunes
    cross-size candidates before the verify.

    Plan: postings df rides the token-partitioned window exchange (the
    ngram_jaccard trick), prefix ranks are a doc-partitioned window,
    the candidate join keys on the 8-byte token hash, and verification
    counts common tokens ONLY for candidate pairs (two semi-restricted
    joins — full posting lists never self-join). p uses floor instead
    of ceil (one extra posting at worst, never one too few) and the
    length filter carries a 1e-9 slack, so float rounding can only ADD
    candidates — recall is exact by construction, and the oracle's
    brute-force join proves it.
    """
    from pyspark.sql import Window as W

    # ns (per-doc distinct token count) is computed from the token ARRAY
    # before the explode — it is a pure function of the doc, so paying a
    # doc-partitioned window (a full exchange + WindowExec) for it was
    # redundant; carrying it on the exploded postings is the same trick
    # ngram_jaccard_pairs uses for |A|/|B|. That leaves two windows on
    # two keys (dfreq on tk, rnk on id) instead of three on three.
    # array_remove, not a filter() lambda: HOF lambda variable ids defeat
    # plan canonicalization, which would break ReusedExchange on the
    # prefix self-join below (the simhash materialize_sigs lesson)
    arr = F.array_remove(F.array_distinct(F.split(F.trim(F.col(text)), r"\s+")), "")
    toks = (
        df.select(F.col(id_col).alias("id"), arr.alias("_arr"))
        .select("id", F.size("_arr").alias("ns"), F.explode("_arr").alias("tok"))
        .select("id", "ns", "tok", F.xxhash64("tok").alias("tk"))
    )
    ranked = toks.withColumn(
        "dfreq", F.count(F.lit(1)).over(W.partitionBy("tk"))
    ).withColumn(
        "rnk",
        F.row_number().over(
            W.partitionBy("id").orderBy(F.col("dfreq").asc(), F.col("tok").asc())
        ),
    )
    prefix = ranked.filter(
        F.col("rnk") <= F.col("ns") - F.floor(F.lit(threshold) * F.col("ns")) + 1
    ).select("id", "ns", "tk")
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(b, (F.col("a.tk") == F.col("b.tk")) & (F.col("a.id") < F.col("b.id")))
        .filter(
            F.least(F.col("a.ns"), F.col("b.ns"))
            >= F.lit(threshold) * F.greatest(F.col("a.ns"), F.col("b.ns")) - 1e-9
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.ns").alias("size_a"),
            F.col("b.ns").alias("size_b"),
        )
        .distinct()
    )
    full = toks.select("id", "tk")
    common = (
        cand.join(full.select(F.col("id").alias("id_a"), "tk"), "id_a")
        .join(full.select(F.col("id").alias("id_b"), "tk"), ["id_b", "tk"])
        .groupBy("id_a", "id_b", "size_a", "size_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return common.select(
        "id_a",
        "id_b",
        "size_a",
        "size_b",
        F.round(
            F.col("c") / (F.col("size_a") + F.col("size_b") - F.col("c")), 6
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def winnow_fingerprints(
    df: DataFrame,
    n: int = 4,
    window: int = 4,
    text: str = "text",
    id_col: str = "doc_id",
    gram_hash=None,
    hash_bits: int = 40,
) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD'03 — the MOSS algorithm): hash every token n-gram, slide a
    window of ``window`` consecutive gram positions, and keep the
    minimum hash per window (rightmost on ties). The guarantee: any
    shared substring of at least window+n-1 tokens yields at least one
    shared fingerprint, while only ~2/(window+1) of all grams are kept
    — a position-aware third fingerprinting family next to MinHash
    (set resemblance) and SimHash (vector similarity).

    Engine-portable selection without struct-min: fingerprints compare
    by the packed key h·2^pos_bits + (2^pos_bits−1−pos) — min over the
    window frame IS (min hash, rightmost position), and any SQL engine
    replays the same integer arithmetic. The hash folds to
    ``hash_bits`` so the pack stays inside int64 (collisions only merge
    fingerprints, and identically on both sides); the position field
    takes the remaining 62−hash_bits bits (22 bits ≈ 4.1M gram
    positions per document at the default hash_bits=40), and a
    per-row execution-time guard raises on any document longer than
    that instead of letting the position term go negative and corrupt
    the window-min (ADVICE r6). Trailing windows shorter than
    ``window`` still select (extra recall, same on both engines).

    Plan: explode grams with position (map-side), ONE doc-partitioned
    window pass for the per-window minima, distinct. ``gram_hash``
    defaults to xxhash64 (production); inject a polynomial for
    SQL-oracle parity, the simhash_signatures convention."""
    from pyspark.sql import Window as W

    from nnanalytics_spark.pipeline.text import word_grams

    pos_bits = 62 - hash_bits
    if pos_bits < 16:
        raise ValueError(
            f"hash_bits={hash_bits} leaves only {pos_bits} position bits; "
            "hash_bits must be <= 46 so the packed key fits int64 with a "
            "usable per-document length bound"
        )
    pos_mask = (1 << pos_bits) - 1
    hasher = gram_hash if gram_hash is not None else F.xxhash64
    # token array MATERIALIZED before the gram lambda (word_grams
    # contract: an inline split re-tokenizes the doc once per gram)
    toked = df.select(
        F.col(id_col).alias("id"),
        F.split(F.lower(F.trim(F.col(text))), r"\s+").alias("_toks"),
    )
    positions = toked.select(
        "id", F.posexplode(word_grams(F.col("_toks"), n)).alias("pos", "gram")
    ).select(
        "id",
        F.when(
            F.col("pos") > pos_mask,
            F.raise_error(
                F.concat(
                    F.lit(
                        f"winnow_fingerprints: document exceeds {pos_mask + 1} "
                        "gram positions (raise hash collisions are preferable "
                        "to silent corruption: lower hash_bits to widen the "
                        "position field, or pre-chunk the document) id="
                    ),
                    F.col("id").cast("string"),
                )
            ).cast("int"),
        )
        .otherwise(F.col("pos"))
        .alias("pos"),
        F.pmod(hasher(F.col("gram")), F.lit(1 << hash_bits)).alias("h"),
    )
    key = F.col("h") * (pos_mask + 1) + (pos_mask - F.col("pos"))
    w = W.partitionBy("id").orderBy("pos").rowsBetween(0, window - 1)
    selected = (
        positions.withColumn("_sel", F.min(key).over(w))
        .select(
            "id",
            F.expr(f"_sel div {pos_mask + 1}").alias("fingerprint"),
            (pos_mask - F.col("_sel") % (pos_mask + 1)).alias("fp_pos"),
        )
        .distinct()
    )
    return selected


def winnow_shared_pairs(fps: DataFrame) -> DataFrame:
    """Candidate pairs from shared winnowing fingerprints: equi-join on
    the fingerprint value, count shared per pair. Same inverted-index
    discipline as every pair generator here — the pair space is bounded
    by fingerprint co-occurrence, never |docs|²."""
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fingerprint") == F.col("b.fingerprint"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count_distinct(F.col("a.fingerprint")).alias("shared_fps"))
    )


def shingle_df_sweep(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    caps: tuple = (25, 50, 100, 200),
) -> DataFrame:
    """Price the max_shingle_df knob BEFORE any pair join: for each
    candidate cap, the exact candidate-pair count the inverted-index
    self-join would emit — Σ over kept shingles of df·(df−1)/2 — read
    straight off the shingle document-frequency HISTOGRAM. This is the
    blocking_diagnostic of the shingle world: a shingle with df = d
    contributes d² pairs, so the sweep shows exactly where the
    quadratic blow-up lives and what each cap buys (pair_reduction vs
    the uncapped index), for the cost of one shingle count — no pairs
    are ever generated.

    Plan: one shingle explode + (shingle) count (the same single
    shuffle the pair generator pays for its index), collapsed to the
    tiny df-frequency histogram, then a literal |caps|-row grid LEFT
    join (a cap that keeps zero shingles reports n_kept=0, never
    disappears). Pair terms are BIGINT (exact to df ≈ 3·10⁹ — beyond
    that the shingle is stop-worded by ANY sane cap; note Spark wraps
    silently past that boundary where a SQL oracle raises — don't read
    the uncapped total on a corpus whose hottest shingle is hotter
    than 3e9 docs) summed into DECIMAL(38,0), order-free."""
    sh = df.select(
        F.col(id_col).alias("id"), F.explode(shingles(F.col(text), n)).alias("s")
    )
    dfc = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    hist = dfc.groupBy("df").agg(F.count(F.lit(1)).alias("n_sh"))
    # the df histogram is bounded by max df; it feeds every cap row
    hist = hist.localCheckpoint(eager=False)
    pair_term = (
        (F.col("df") * (F.col("df") - 1) / 2).cast("long").cast("decimal(38,0)")
        * F.col("n_sh")
    )
    tot = hist.agg(
        F.sum("n_sh").alias("_tot_sh"),
        F.sum(pair_term).alias("_tot_pairs"),
    )
    grid = df.sparkSession.range(0, len(caps)).select(
        F.element_at(F.array(*[F.lit(c) for c in caps]), (F.col("id") + 1).cast("int")).alias(
            "cap"
        )
    )
    # LEFT join + coalesce-to-0: a cap below the minimum shingle df
    # keeps zero shingles and must still appear in the sweep (as
    # n_kept=0 / candidate_pairs=0 / pair_reduction=1), not silently
    # vanish from the report
    kept = grid.join(hist, hist["df"] <= grid["cap"], "left").groupBy("cap").agg(
        F.coalesce(F.sum("n_sh"), F.lit(0)).alias("n_kept"),
        F.coalesce(F.sum(pair_term), F.lit(0).cast("decimal(38,0)")).alias("_pairs"),
    )
    return (
        kept.crossJoin(F.broadcast(tot))
        .select(
            "cap",
            "n_kept",
            (F.col("_tot_sh") - F.col("n_kept")).alias("n_hot_dropped"),
            F.col("_pairs").cast("long").alias("candidate_pairs"),
            # a corpus with zero uncapped candidate pairs (every shingle
            # unique — e.g. a single doc) has nothing to reduce: NULL
            # pair_reduction (diagnosable), never an ANSI divide error
            F.round(
                F.when(
                    F.col("_tot_pairs") != 0,
                    F.lit(1.0)
                    - F.col("_pairs").cast("double")
                    / F.col("_tot_pairs").cast("double"),
                ),
                6,
            ).alias("pair_reduction"),
        )
        .orderBy("cap")
    )


def fingerprint_collisions(
    docs: DataFrame, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Audit the rolling-hash fingerprint's collision behavior at
    corpus scale — the width-sizing check behind dedup_exact-by-
    fingerprint: documents sharing a fingerprint WITHOUT sharing text
    are false merges, and their count against the birthday bound
    C(n,2)/(2³¹−1) says whether the 31-bit space is already saturated
    (at 100 TB it is — this row is the evidence that forces the
    128-bit upgrade).

    Two keyed aggregates — (fp, md5(text)) then (fp) — so colliding
    pairs = C(n_fp, 2) − Σ C(n_same_text, 2) stays exact integer
    arithmetic; md5 stands in for full-text equality (engine-portable,
    collision-free at any realistic corpus size)."""
    from nnanalytics_spark.pipeline.text import fingerprint

    g1 = (
        docs.select(
            fingerprint(F.col(text)).alias("fp"), F.md5(F.col(text)).alias("tid")
        )
        .groupBy("fp", "tid")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    g2 = g1.groupBy("fp").agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("dt"),
        F.sum(F.col("c") * (F.col("c") - 1) / 2).cast("long").alias("_same"),
    )
    pairs_fp = (F.col("n") * (F.col("n") - 1) / 2).cast("long")
    agg = g2.agg(
        F.sum("n").alias("n_docs"),
        F.count(F.lit(1)).alias("n_fingerprints"),
        F.sum((F.col("dt") > 1).cast("long")).alias("collision_fps"),
        F.sum(pairs_fp - F.col("_same")).alias("colliding_pairs"),
    )
    expected = (
        F.col("n_docs").cast("double")
        * (F.col("n_docs") - 1)
        / 2
        / F.lit(2147483647.0)
    )
    return agg.select(
        "n_docs",
        "n_fingerprints",
        "collision_fps",
        "colliding_pairs",
        F.round(expected, 6).alias("expected_random_collisions"),
    )


def cluster_cohesion(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Cohesion audit of the connected-component dedup clusters — the
    over-merge detector LSH/threshold dedup needs before dropping
    documents: components are built by CHAINING pairs, so A–B–C merges
    even when A and C are unrelated (cohesion = observed pair edges /
    C(m,2) possible; 1.0 = clique, low values on big clusters = the
    threshold is chaining through hubs and the keeper choice is about
    to delete non-duplicates).

    Per cluster-size band ('2', '3-4', '5+'): cluster count, member
    count, mean cohesion (DECIMAL-summed 6-dp terms) and the worst
    cohesion. One components run (dup_clusters) + one edge rollup —
    every pair edge is intra-cluster by construction, so the edge count
    per cluster is a single keyed aggregate, no pair re-verification."""
    # pairs feed BOTH the components run and the edge rollup — the lazy
    # checkpoint keeps the pair generation (the expensive stage) at ONE
    # execution
    pairs = pairs.localCheckpoint(eager=False)
    clusters = dup_clusters(docs, pairs, id_col)
    # the |docs|-row label table feeds sizes AND the edge rollup
    clusters = clusters.localCheckpoint(eager=False)
    cm = (
        clusters.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("m"))
        .filter(F.col("m") >= 2)
    )
    ec = (
        pairs.join(
            clusters.withColumnRenamed("node", "id_a"), "id_a"
        )
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("e"))
    )
    coh = cm.join(ec, "cluster", "left").select(
        "cluster",
        "m",
        F.coalesce("e", F.lit(0)).alias("e"),
        F.round(
            F.coalesce("e", F.lit(0))
            / (F.col("m").cast("double") * (F.col("m") - 1) / 2),
            6,
        ).alias("cohesion"),
    )
    band = (
        F.when(F.col("m") == 2, "2")
        .when(F.col("m") <= 4, "3-4")
        .otherwise("5+")
    )
    return coh.groupBy(band.alias("size_band")).agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("m").alias("n_members"),
        F.round(
            F.sum(F.col("cohesion").cast("decimal(18,9)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_cohesion"),
        F.min("cohesion").alias("min_cohesion"),
    )


def review_sample(
    pairs: DataFrame,
    k: int = 5,
    sim_col: str = "jaccard",
) -> DataFrame:
    """Deterministic stratified audit sample of near-dup pairs — the
    human-QA step between jaccard_threshold_sweep (which threshold?)
    and the drop decision: k pairs per similarity band, selected by a
    portable integer hash so the sample is reproducible run-over-run
    and engine-over-engine (no rand(), no arbitrary head()).

    hash = (id_a·1000003 + id_b) mod 1000000007 — Knuth multiplicative,
    plain int64 arithmetic on both engines; row_number per band over
    (hash, id_a, id_b). The window partitions by the literal band so
    each partition is one stratum; the sample is k·|bands| rows total."""
    from pyspark.sql import Window as W

    band = (
        F.when(F.col(sim_col) >= 0.9, "0.9+")
        .when(F.col(sim_col) >= 0.8, "0.8-0.9")
        .when(F.col(sim_col) >= 0.7, "0.7-0.8")
        .otherwise("<0.7")
    )
    h = (F.col("id_a") * 1000003 + F.col("id_b")) % 1000000007
    w = W.partitionBy("band").orderBy("h", "id_a", "id_b")
    return (
        pairs.select("id_a", "id_b", F.col(sim_col), band.alias("band"), h.alias("h"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("band", "rk", "id_a", "id_b", sim_col)
    )


def dedup_rate_by_length(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    length_col: str = "n_chars",
) -> DataFrame:
    """Dedup-rate-by-length QA: exact-duplicate share per document-
    length decile — the "are we only deduping short docs?" readout. A
    corpus whose duplicates concentrate in one length band (boilerplate
    stubs, mirrored long articles) needs band-aware thresholds, and a
    pipeline that silently deletes mostly LONG documents is destroying
    disproportionate token mass; this is the one-glance check.

    Deciles come from exact interpolated length CUTPOINTS (one
    aggregate, broadcast back — the lorenz_deciles greater-than
    bucketing, NOT a global ntile sort), duplicates from the same
    normalized-text key as exact_dedup with min-id keepers."""
    from pyspark.sql import Window as W

    keyed = df.select(
        F.col(id_col).alias("id"),
        F.col(length_col).alias("len"),
        normalized(F.col(text)).alias("k"),
    )
    w = W.partitionBy("k")
    flagged = keyed.select(
        "id",
        "len",
        (F.min("id").over(w) != F.col("id")).cast("long").alias("is_dup"),
    )
    cuts = df.agg(
        *[
            F.percentile(F.col(length_col), F.lit(i / 10.0)).alias(f"c{i}")
            for i in range(1, 10)
        ]
    )
    decile = F.lit(1)
    for i in range(1, 10):
        decile = decile + (F.col("len") > F.col(f"c{i}")).cast("int")
    return (
        flagged.crossJoin(F.broadcast(cuts))
        .select(decile.alias("decile"), "len", "is_dup")
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("is_dup").alias("n_dupes"),
            F.round(F.sum("is_dup") / F.count(F.lit(1)).cast("double"), 6).alias(
                "dup_rate"
            ),
            F.round(
                F.sum(F.col("len").cast("decimal(38,0)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_len"),
        )
    )


def lsh_plan(
    pairs: DataFrame,
    j_col: str = "jaccard",
    target: float = 0.7,
    configs: tuple = ((64, 2), (32, 4), (16, 8), (8, 16)),
) -> DataFrame:
    """MinHash-LSH configuration planner — the missing step between
    "we want near-dups at Jaccard ≥ τ" and minhash_lsh_pairs' (bands,
    rows) knob, scored on THIS corpus's observed similarity profile
    instead of the textbook S-curve alone: for each (b, r) split of
    the permutation budget, P(candidate | s) = 1 − (1 − sʳ)ᵇ, and the
    report is that curve averaged over the real pair distribution —
    expected recall on pairs ≥ τ, expected noise on pairs < τ, plus
    the config's s50 crossover (1 − 0.5^(1/b))^(1/r).

    Input is a bounded scored pair table (the jaccard_threshold_sweep
    subset); the config grid is literal, so the whole plan is one
    cross of a tiny grid with a bounded table — P terms quantize to
    9-dp DECIMAL so the averages are order-free."""
    grid = pairs.sparkSession.createDataFrame(
        [(b, r) for b, r in configs], "b int, r int"
    )
    p_cand = F.lit(1.0) - F.pow(
        F.lit(1.0) - F.pow(F.col(j_col), F.col("r").cast("double")),
        F.col("b").cast("double"),
    )
    term = F.round(p_cand, 9).cast("decimal(28,9)")
    above = F.col(j_col) >= F.lit(target)
    zero = F.lit(0).cast("decimal(28,9)")
    scored = pairs.crossJoin(F.broadcast(grid)).groupBy("b", "r").agg(
        F.sum(above.cast("long")).alias("n_above"),
        F.sum((~above).cast("long")).alias("n_below"),
        F.sum(F.when(above, term).otherwise(zero)).alias("_ra"),
        F.sum(F.when(~above, term).otherwise(zero)).alias("_rb"),
    )
    s50 = F.pow(
        F.lit(1.0) - F.pow(F.lit(0.5), F.lit(1.0) / F.col("b")),
        F.lit(1.0) / F.col("r"),
    )
    return scored.select(
        "b",
        "r",
        F.round(s50, 6).alias("s50"),
        "n_above",
        "n_below",
        F.when(
            F.col("n_above") > 0,
            F.round(F.col("_ra").cast("double") / F.col("n_above"), 6),
        ).alias("expected_recall"),
        F.when(
            F.col("n_below") > 0,
            F.round(F.col("_rb").cast("double") / F.col("n_below"), 6),
        ).alias("expected_noise"),
    )


def token_dedup_savings(
    docs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Token mass saved by exact dedup, per source — the readout that
    turns "we dropped 12% of DOCS" into the number that matters for a
    training budget: how many TOKENS the survivor set keeps. Duplicate
    groups keep the min-id doc (exact_dedup's rule), and a cross-source
    duplicate charges the savings to the source whose copy was dropped
    — documented, since that is exactly the feed-redundancy signal a
    mixture owner needs.

    One normalized-key window + one grouped integer rollup; token
    counts are exact longs."""
    from nnanalytics_spark.pipeline.text import tokens
    from pyspark.sql import Window as W

    keyed = docs.select(
        F.col(id_col).alias("id"),
        "source",
        normalized(F.col(text)).alias("k"),
        F.size(tokens(F.col(text))).cast("long").alias("ntok"),
    )
    w = W.partitionBy("k")
    flagged = keyed.select(
        "source",
        "ntok",
        (F.min("id").over(w) == F.col("id")).cast("long").alias("keep"),
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("keep").alias("n_kept"),
        F.sum("ntok").alias("tokens_total"),
        F.sum(F.col("ntok") * F.col("keep")).alias("tokens_kept"),
        F.round(
            F.lit(1.0)
            - F.sum(F.col("ntok") * F.col("keep"))
            / F.sum("ntok").cast("double"),
            6,
        ).alias("token_savings"),
    )


def minhash_bbit_audit(
    docs: DataFrame,
    pairs: DataFrame,
    k: int = 64,
    b_bits: int = 2,
    postings: DataFrame | None = None,
) -> DataFrame:
    """b-bit MinHash storage audit (Li & König, WWW 2010): keeping only
    the low b bits of each of k permutation minima cuts signature
    storage 64/b-fold — at 100 TB that is the difference between a
    signature table that fits executor memory and one that doesn't —
    at the price of accidental collisions, corrected by
    ŝ = (p̂ − 2⁻ᵇ)/(1 − 2⁻ᵇ). This operator MEASURES that price on
    real pairs: per similarity band, the mean absolute error of the
    full-value estimate vs the b-bit corrected estimate against exact
    shingle Jaccard.

    Signatures come from the portable minhash path (SQL-replayable);
    the comparison joins the bounded verified pair table, and both
    match counts are one zip_with fold per pair — signatures never
    shuffle beyond the two broadcast-ish id joins."""
    # the signature table joins the pair list on BOTH sides (sa, sb) —
    # without a lineage cut the whole portable-minhash pipeline (shingle
    # explode + distinct-vocab hash + k-min aggregate) executes twice.
    # ``postings``: shared shingle_postings table (typically the one the
    # caller's pair pipeline already checkpointed) — saves this
    # pipeline's own corpus scan + regex shingle pass.
    sigs = minhash_signatures(
        docs, k=k, portable=True, postings=postings
    ).localCheckpoint(eager=False)
    mod = 1 << b_bits
    r = 1.0 / mod
    sa = sigs.select(F.col("id").alias("id_a"), F.col("signature").alias("_sa"))
    sb = sigs.select(F.col("id").alias("id_b"), F.col("signature").alias("_sb"))
    joined = pairs.join(sa, "id_a").join(sb, "id_b")
    nm = F.size(
        F.filter(
            F.zip_with(F.col("_sa"), F.col("_sb"), lambda x, y: x == y),
            lambda t: t,
        )
    )
    nb = F.size(
        F.filter(
            F.zip_with(
                F.col("_sa"), F.col("_sb"), lambda x, y: (x % mod) == (y % mod)
            ),
            lambda t: t,
        )
    )
    est_full = F.col("_nm").cast("double") / F.lit(k)
    est_bbit = (F.col("_nb").cast("double") / F.lit(k) - F.lit(r)) / F.lit(1.0 - r)
    band = (
        F.when(F.col("jaccard") >= 0.9, "0.9+")
        .when(F.col("jaccard") >= 0.7, "0.7-0.9")
        .otherwise("0.5-0.7")
    )
    scored = joined.select(
        "jaccard", nm.alias("_nm"), nb.alias("_nb")
    ).select(
        band.alias("band"),
        F.round(F.abs(est_full - F.col("jaccard")), 9)
        .cast("decimal(28,9)")
        .alias("_ef"),
        F.round(F.abs(est_bbit - F.col("jaccard")), 9)
        .cast("decimal(28,9)")
        .alias("_eb"),
    )
    return scored.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(
            F.sum("_ef").cast("double") / F.count(F.lit(1)), 6
        ).alias("mae_full"),
        F.round(
            F.sum("_eb").cast("double") / F.count(F.lit(1)), 6
        ).alias(f"mae_{b_bits}bit"),
    )
