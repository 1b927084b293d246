"""Text-analysis operators for the training-data pipeline.

Language-ID (marker-token heuristic), quality scoring, token
counting (whitespace + BPE-ish regex), and document fingerprinting
(winnowing over char k-gram hashes) on a `documents(doc_id, text)`
table. All pure DataFrame/SQL (whole-stage codegen, no UDFs); every
op has a DuckDB oracle twin.

Scale shapes: quality/lang-id/token ops are narrow per-row
projections (no shuffle at all); fingerprinting explodes char
k-grams but aggregates back per doc_id in one shuffle, and the
winnowing window is per-doc (partition-local after the shuffle).

Reference basis: the reference's text cleanup vocabulary
(src/utilities/parse_util.py:117-168 strips, whitespace collapse) is
reused as the normalization front; corpus-level quality/lang-id/
fingerprinting are the standard training-pipeline extensions
(winnowing per Schleimer et al., SIGMOD '03).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pdfspark.operators.dedup import normalized_text

# English stopword markers for the quality score's stopword-ratio
# feature. (The per-language marker table that once drove language_id
# was retired with the round-3 Cavnar-Trenkle trigram classifier in
# functions/langprof.py — only this list is still read.)
EN_STOPWORDS: list[str] = ["the", "a", "of", "and", "is"]

# BPE-ish pre-tokenizer: letter runs | digit runs | punct runs.
# Kept lookahead-free so the Java-regex (Spark) and RE2 (DuckDB)
# dialects agree byte-for-byte.
BPE_TOKEN_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+"

FP_K = 8  # char k-gram size
FP_W = 4  # winnowing window (positions)


def _tok_count(norm, words: list[str]):
    """Occurrences of the marker words as whole tokens of the (single-
    spaced) normalized text. Space-lookaround alternation over the
    padded string instead of a filter/array_contains lambda: the HOF
    form evaluates interpreted per token, the regex scan stays in
    whole-stage codegen (same measured finding as word_shingles)."""
    pat = "(?<= )(" + "|".join(words) + ")(?= )"
    padded = F.concat(F.lit(" "), norm, F.lit(" "))
    return F.size(F.regexp_extract_all(padded, F.lit(pat), 1))


def language_id(docs: DataFrame) -> DataFrame:
    """Language ID by Cavnar-Trenkle character-trigram rank profiles
    (pdfspark/functions/langprof.py; replaces the round-2 marker-token
    heuristic — that form survives only as quality_scores' stopword
    feature).

    Production form (round 3): per-doc mapInPandas running the
    pure-Python classifier — trigram ranking and the out-of-place
    distance are inherently per-document work, so one Arrow batch
    replaces the relational plan's four exchanges (trigram groupBy,
    rank window, distance groupBy, pivot) with a zero-shuffle narrow
    projection; measured 5.3 -> 1.4 s at sf0.1. All-integer distances
    and identical rank tie-breaks keep it row-for-row equal to the
    pure-Python classifier and the relational DuckDB twin (pinned by
    pytest + selfcheck).
    """
    import pandas as pd

    from pdfspark.functions.langprof import LANGS

    id_type = docs.schema["doc_id"].dataType
    schema = T.StructType(
        [T.StructField("doc_id", id_type),
         T.StructField("pred_lang", T.StringType())]
        + [T.StructField(f"dist_{lg}", T.LongType()) for lg in LANGS]
    )

    def run(batches):
        from pdfspark.functions.langprof import classify

        cols = ["doc_id", "pred_lang"] + [f"dist_{lg}" for lg in LANGS]
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                # NULL text degrades like the relational form: no
                # trigrams, distance 0 everywhere, tie-break -> LANGS[0]
                pred, dists = classify(text if isinstance(text, str) else "")
                out.append(
                    (doc_id, pred, *[dists.get(lg, 0) for lg in LANGS])
                )
            yield pd.DataFrame(out, columns=cols)

    return docs.select("doc_id", "text").mapInPandas(run, schema)


def _quality_cols(text):
    """Aliased quality-feature expressions over a text column (shared
    by quality_scores and the merged quality_token_stats projection)."""
    n_chars = F.length(text)
    norm = normalized_text(text)
    # norm is trimmed and single-spaced, so the only empty token is the
    # empty string itself — no per-token lambda needed
    n_words = F.when(norm == "", 0).otherwise(F.size(F.split(norm, " ")))
    n_punct = F.size(F.regexp_extract_all(text, F.lit(r"[^a-zA-Z0-9\s]"), 0))
    n_digit = F.size(F.regexp_extract_all(text, F.lit("[0-9]"), 0))
    n_stop = _tok_count(norm, EN_STOPWORDS)
    safe_w = F.greatest(n_words, F.lit(1))
    safe_c = F.greatest(n_chars, F.lit(1))
    mean_wl = F.round(
        F.length(F.regexp_replace(normalized_text(text), " ", "")) / safe_w, 4
    )
    stop_ratio = F.round(n_stop / safe_w, 4)
    punct_ratio = F.round(n_punct / safe_c, 4)
    digit_ratio = F.round(n_digit / safe_c, 4)
    score = F.round(
        F.least(
            F.lit(1.0),
            F.greatest(
                F.lit(0.0),
                # 0.6 (not 0.5): products of 4-decimal ratios with 0.6
                # never land on the .00005 rounding boundary, keeping
                # round(.,4) engine-stable
                F.lit(0.25)
                + n_chars / F.lit(2000.0)
                + stop_ratio * F.lit(0.6)
                - punct_ratio * F.lit(2.0)
                - digit_ratio * F.lit(1.0),
            ),
        ),
        4,
    )
    return [
        n_chars.cast("int").alias("n_chars"),
        n_words.cast("int").alias("n_words"),
        mean_wl.alias("mean_word_len"),
        stop_ratio.alias("stopword_ratio"),
        punct_ratio.alias("punct_ratio"),
        digit_ratio.alias("digit_ratio"),
        score.alias("quality_score"),
    ]


def _winnow(norm):
    """THE winnowing kernel — shared by `fingerprints` and
    `text_profile` so the two cannot drift: char FP_K-gram md5s, a
    monotonic-deque sliding min over FP_W positions (live state is
    <= FP_W hashes plus the selected set, never the full per-position
    list — a skewed multi-MB doc must not cost 32 hex bytes per
    character inside one Arrow batch), distinct selected hashes.
    Returns (n_fingerprints, fp_digest), or (None, None) for a NULL
    text or a doc too short to fill one window — the NULL-row
    semantics text_profile's LEFT-JOIN oracle twin pins."""
    import hashlib
    from collections import deque

    if not isinstance(norm, str) or len(norm) < FP_K + FP_W - 1:
        return None, None
    sel = set()
    dq = deque()  # (pos, hash), hashes strictly increasing
    for i in range(len(norm) - FP_K + 1):
        h = hashlib.md5(norm[i:i + FP_K].encode()).hexdigest()
        while dq and dq[-1][1] >= h:
            dq.pop()
        dq.append((i, h))
        if dq[0][0] <= i - FP_W:
            dq.popleft()
        if i >= FP_W - 1:
            sel.add(dq[0][1])
    return (len(sel),
            hashlib.md5("".join(sorted(sel)).encode()).hexdigest())


def quality_scores(docs: DataFrame) -> DataFrame:
    """Length / punctuation / stopword / digit ratio features and a
    composite quality score (pure arithmetic — engine-portable)."""
    return docs.select("doc_id", *_quality_cols(F.col("text")))


def _token_cols(text):
    """Aliased token-count expressions (shared like _quality_cols)."""
    # count \S+ runs, NOT size(split(trim(text))): F.trim strips
    # ASCII spaces only, so '\tfoo bar' would split to ['', 'foo',
    # 'bar'] and count 3 while the DuckDB twin's empty-token filter
    # counts 2 — the \S+ scan equals the filtered count by
    # construction and stays in whole-stage codegen
    ws = F.size(F.regexp_extract_all(text, F.lit(r"\S+"), 0))
    bpe = F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), 0))
    return [
        ws.cast("int").alias("n_ws_tokens"),
        bpe.cast("int").alias("n_bpe_tokens"),
        F.round(F.length(text) / F.greatest(bpe, F.lit(1)), 4).alias(
            "chars_per_token"
        ),
    ]


def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace token count + BPE-ish regex token count + chars per
    BPE token (the usual tokens-per-doc budget metric)."""
    return docs.select("doc_id", *_token_cols(F.col("text")))


def quality_token_stats(docs: DataFrame) -> DataFrame:
    """quality_scores + token_counts as ONE narrow projection — zero
    shuffle, one scan — rather than a doc_id self-join of the two
    (which would re-read the corpus and shuffle both sides at scale)."""
    text = F.col("text")
    return docs.select("doc_id", *_quality_cols(text), *_token_cols(text))


def fingerprints(docs: DataFrame) -> DataFrame:
    """Winnowing fingerprint summary per doc.

    Char FP_K-grams of the normalized text -> md5 -> per-position
    window min over FP_W consecutive positions -> distinct selected
    hashes. Emits (doc_id, n_fingerprints, fp_digest) where fp_digest
    is the md5 of the sorted concatenation — a stable whole-doc
    signature for copy detection.

    Shape history (all measured at sf0.1, interleaved min-over-3):
    a pure-array HOF formulation (array_min over slices inside
    transform) is 7x SLOWER than the round-2 explode+window plan —
    higher-order-function lambdas evaluate interpreted. Round 3
    replaced explode+window with this mapInPandas form: winnowing is
    inherently per-document work (k-gram hashes, a sliding lexicographic
    min, a per-doc digest), so doing it inside one Arrow batch removes
    the char-gram explode AND the doc_id shuffle entirely — the op is
    now a narrow per-row projection (4.3 -> 2.7 s locally; at corpus
    scale the win is the deleted full-corpus-gram exchange, the same
    seam rationale as the extraction fold). hashlib.md5 hex equals
    Spark/DuckDB md5, so the values are bit-identical to the unchanged
    explode+window DuckDB oracle twin (pinned by selfcheck hash).
    """
    import pandas as pd

    # a doc needs >= FP_W k-gram positions to fill one winnowing window
    # (norm length >= FP_K + FP_W - 1); shorter docs emitted no row in
    # the explode+window plan and must not here either
    base = docs.select(
        "doc_id", normalized_text(F.col("text")).alias("norm")
    ).filter(F.length("norm") >= FP_K + FP_W - 1)

    schema = T.StructType(
        [T.StructField("doc_id", docs.schema["doc_id"].dataType),
         T.StructField("n_fingerprints", T.IntegerType()),
         T.StructField("fp_digest", T.StringType())]
    )

    def run(batches):
        for pdf in batches:
            out = []
            for doc_id, norm in zip(pdf["doc_id"], pdf["norm"]):
                n, dig = _winnow(norm)  # tie handling is irrelevant:
                # only the min VALUE enters the set, so the deque
                # equals min(hs[i:i+FP_W]) per window
                out.append((doc_id, n, dig))
            yield pd.DataFrame(
                out, columns=["doc_id", "n_fingerprints", "fp_digest"]
            )

    return base.mapInPandas(run, schema)


def text_profile(docs: DataFrame) -> DataFrame:
    """quality + token + winnowing-fingerprint features as ONE
    zero-shuffle pass (round 5: merged driver row, freeing a
    correctness slot for the HTML main-content op while keeping all
    three feature families first-class and hash-checked).

    Shape: one scan -> mapInPandas (the fingerprints deque kernel,
    norm in / numeric fp columns + text passthrough out) -> a JVM
    projection of the quality/token expressions on top. The quality
    and token features stay whole-stage-codegen expressions — moving
    them into Python would trade the JVM fast path for nothing — and
    the single Arrow crossing carries one string column each way.
    Unlike the standalone `fingerprints`, docs too short for one
    winnowing window keep their row with NULL fingerprint columns
    (the quality/token grain is all docs; the oracle twin LEFT JOINs
    the fingerprint subquery for the same semantics)."""
    import pandas as pd

    base = docs.select(
        "doc_id", "text", normalized_text(F.col("text")).alias("__norm")
    )
    mid_schema = T.StructType(
        [T.StructField("doc_id", docs.schema["doc_id"].dataType),
         T.StructField("text", T.StringType()),
         T.StructField("n_fingerprints", T.IntegerType()),
         T.StructField("fp_digest", T.StringType())]
    )

    def run(batches):
        for pdf in batches:
            n_col, d_col = [], []
            for norm in pdf["__norm"]:
                # _winnow handles NULL text (None norm) and short
                # docs with a (None, None) row — the LEFT-JOIN
                # semantics the oracle twin pins; len(None) here
                # used to kill the whole stage
                n, dig = _winnow(norm)
                n_col.append(n)
                d_col.append(dig)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "text": pdf["text"],
                 "n_fingerprints": pd.array(n_col, dtype="Int32"),
                 "fp_digest": d_col}
            )

    text = F.col("text")
    return base.mapInPandas(run, mid_schema).select(
        "doc_id", *_quality_cols(text), *_token_cols(text),
        "n_fingerprints", "fp_digest",
    )


def curate_documents(
    docs: DataFrame, min_quality: float = 0.5, lang: str = "en",
    near_dedup: bool = True, exact_components: bool = False,
) -> DataFrame:
    """Composed training-data curation pass — the operators above used
    the way a 100 TB pipeline chains them: exact-dedup keep-first
    (cheapest pass, runs first), then MinHash near-dedup over the
    exact survivors, then language filter, then quality filter.
    Shapes: one hash shuffle for the keep-first dedup window (min
    doc_id per content hash), the banded star-candidate join of
    minhash_verified, and two narrow per-row feature projections
    joined on doc_id — no cross joins; every filter is a
    deterministic predicate over oracle-matched rounded features.

    Near-dedup semantics (``near_dedup=True``): a doc is dropped iff
    it is the non-representative side (doc_b) of a Jaccard-verified
    candidate pair — keep-first at the near-dup level, mirroring
    the exact pass. The near-dup stage is pinned to run on the
    exact-dedup survivors (the standard pipeline order; the pair set
    depends on the corpus it runs over, so the order is part of the
    contract and the DuckDB twin computes the same staging).

    doc_b-drop is the LINEAR approximation of exact keep-min-per-
    component: it can diverge only when a non-minimum member's every
    verified edge points at larger doc_ids (path patterns like edges
    (1,3),(2,3) keeping 2 alive). On the fixture corpus the two drop
    sets are identical (419 = 419 at sf0.1, test-pinned).
    ``exact_components=True`` buys the guarantee: the verified edge
    set is computed ONCE, checkpointed, and injected into
    dedup.neardup_components (``precomputed_edges``), whose
    keep-min-per-component reps define the drop set — so the full
    LSH stack (shingle explode, signature shuffle, band join,
    Jaccard verify) still executes a single time rather than once
    per consumer (5.8 s standalone vs 2.1 s upstream-only at sf0.1
    per BASELINE.md). The default stays the linear form: it skips
    the iterative CC loop entirely.

    Filter ordering: language_id is the one expensive per-doc feature
    (a full trigram classification), so it runs only on the docs that
    survive dedup AND the quality threshold — these per-doc predicates
    commute, so computing quality on the full corpus and joining is
    identical. At sf0.1 this cuts the langid input ~4x; at 100 TB it
    is the difference between profiling the corpus and profiling the
    survivors."""
    from pdfspark.operators.dedup import minhash_verified, neardup_components

    # exact-dedup keep-first in ONE pass over the input: a doc survives
    # iff it is the min doc_id of its normalized-text hash group. The
    # earlier keeper-set groupBy semi-joined back onto the docs was a
    # diamond — both branches evaluated the (lazy, often fold-sized)
    # input, so the upstream ran twice per call.
    h = F.md5(normalized_text(F.col("text")))
    first = F.min("doc_id").over(Window.partitionBy(h))
    # the exact-survivor frame feeds the near-dup pipeline (shingle
    # explode), the quality projection, AND the survivor assembly —
    # checkpointed once so the dedup window runs once, not once per
    # consumer (measured 1.4 s of the td_curation flag at sf0.1;
    # corpus-scan-sized at 100 TB). Non-eager: the first downstream
    # action materializes it in-pass.
    # localCheckpoint instead of persist throughout this operator: a
    # returned lazy frame has no "after the final action" hook to
    # unpersist at, and SQL-cache entries are never reclaimed by the
    # ContextCleaner — repeated curate calls in a long-lived session
    # would pin executor storage forever. Local-checkpoint blocks ARE
    # GC-reclaimed once the returned frame becomes unreachable.
    uniq = (
        docs.select("doc_id", "text", first.alias("__first"))
        .filter(F.col("doc_id") == F.col("__first"))
        .drop("__first")
        .localCheckpoint(eager=False)
    )
    # quality is a per-row feature, so scoring the exact survivors
    # equals scoring the corpus and joining (survivors ⊆ uniq) — at a
    # dup-heavy 100 TB the regex scans run over the survivor set only
    q = quality_scores(uniq)
    survivors = uniq.join(
        q.filter(F.col("quality_score") >= min_quality), "doc_id"
    )
    if near_dedup:
        if exact_components:
            # one LSH execution: the verified-edge frame is
            # checkpointed here and injected into the CC loop, whose
            # own eager sym-checkpoint materializes it in-pass
            edges = minhash_verified(uniq).select(
                "doc_a", "doc_b"
            ).localCheckpoint(eager=False)
            nd_drop = (
                neardup_components(uniq, precomputed_edges=edges)
                .filter(F.col("doc_id") != F.col("rep_id"))
                .select("doc_id")
            )
        else:
            nd_drop = minhash_verified(uniq).select(
                F.col("doc_b").alias("doc_id")
            )
        survivors = survivors.join(nd_drop, "doc_id", "left_anti")
    # survivors feeds three consumers (language_id's trigram side, its
    # doc_id spine, and the final join) — without materialization the
    # near-dup pipeline and the quality scans execute once per
    # consumer (the usual diamond rule)
    survivors = survivors.localCheckpoint(eager=True)
    lid = language_id(survivors)
    return (
        survivors.join(lid.select("doc_id", "pred_lang"), "doc_id")
        .filter(F.col("pred_lang") == lang)
        .select("doc_id", "pred_lang", "quality_score", "n_words", "n_chars")
    )
