"""Text-preparation operators for an LLM training-data pipeline: PII /
denylist redaction, vocabulary construction, per-source TF-IDF salience,
and corpus-wide boilerplate n-gram detection.

All four stay JVM-side (regexp_replace / split / explode / window) — no
Python in the row path — so they run inside whole-stage codegen and
scale linearly with input splits. Where a global ordering is needed
(vocabulary rank, boilerplate top-k) the plan is a hash aggregate
followed by TakeOrderedAndProject, never a full sort.

Reference lineage: generalizes the course's tokenize/flatMap/top-k
wordcount family (Chapter 6 - Introduction to PySpark.ipynb:251, :348)
to the curation ops a 100 TB text pipeline actually runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..datasets import load, widen_scan
from ..functions.scalar import fround, fround_sql
from ..queries import query
from ..memo import session_memo

# Patterns are deliberately written in the common subset of Java regex
# (Spark) and RE2 (DuckDB): character classes, \b, {m,}, alternation —
# no lookarounds, no backreferences — so ONE pattern string drives both
# engines and the oracle proves the redaction byte-identical.
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\+?[0-9][0-9()\-. ]{7,}[0-9]"
# Denylist scrubbing (user handles / project codenames / tracked terms).
# The synthetic corpus carries no emails or phones, so the denylist is
# what exercises the replace path end-to-end here; the email/phone
# branches share the exact same plan shape.
_DENYLIST = ("customer", "spark")
_DENY_RE = r"\b(" + "|".join(_DENYLIST) + r")\b"
_MASK = "[REDACTED]"


@query(
    "pii_redaction",
    oracle=f"""
    SELECT doc_id,
           md5(redacted) AS redacted_md5,
           CAST(length(text) - length(
               regexp_replace(text, '{_DENY_RE}', '', 'g')) AS BIGINT)
               AS denylist_chars,
           CAST(CASE WHEN regexp_matches(text, '{_EMAIL_RE}')
                     OR regexp_matches(text, '{_PHONE_RE}')
                THEN 1 ELSE 0 END AS INTEGER) AS had_contact_pii
    FROM (
        SELECT doc_id, text,
               regexp_replace(regexp_replace(regexp_replace(
                   text, '{_EMAIL_RE}', '{_MASK}', 'g'),
                   '{_PHONE_RE}', '{_MASK}', 'g'),
                   '{_DENY_RE}', '{_MASK}', 'g') AS redacted
        FROM documents)
    """,
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scrub PII-shaped spans (emails, phone numbers) and a denylist of
    tracked terms from every document, emitting the redacted-text hash
    plus per-doc audit counters. Pure regexp_replace chain — one scan,
    codegen throughout; at 100 TB this is the canonical map-only pass
    and its cost is the scan itself. The md5 lets the oracle prove the
    REDACTED BYTES equal DuckDB's, not just the counters.

    r12: widen_scan ahead of the regex stage — five full-text
    regexp_replace evaluations plus two rlike probes per row are the
    heaviest per-row-regex profile in the registry (heavier than the
    adopted text_quality/lang_confusion widens), and on the local
    single-row-group files they serialized on one core. Measured 0.456
    -> 0.233 s warm at sf0.1 (min-of-7, interleaved, every rep below
    the old form); per-row outputs are placement-independent, and the
    widen is a no-op at 100 TB via the `inputFiles()` probe
    (plans/r12/pii_redaction_{before,after}.txt: the one exchange is
    the REPARTITION_BY_NUM widen)."""
    docs = widen_scan(
        load(spark, sf_dir, "documents").select("doc_id", "text"),
        "doc_id")
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _EMAIL_RE, _MASK),
            _PHONE_RE, _MASK),
        _DENY_RE, _MASK)
    deny_chars = (F.length("text")
                  - F.length(F.regexp_replace(F.col("text"), _DENY_RE, "")))
    had_pii = (F.col("text").rlike(_EMAIL_RE)
               | F.col("text").rlike(_PHONE_RE))
    return docs.select(
        "doc_id",
        F.md5(redacted).alias("redacted_md5"),
        deny_chars.cast("bigint").alias("denylist_chars"),
        F.when(had_pii, 1).otherwise(0).cast("int").alias("had_contact_pii"))


@query(
    "vocabulary_build",
    oracle="""
    SELECT CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT)
               AS rank,
           token, n
    FROM (
        SELECT token, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token
              FROM documents)
        GROUP BY token)
    ORDER BY rank
    LIMIT 100
    """,
)
def vocabulary_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a frequency-ranked token vocabulary (the id-assignment step
    before any BPE training): explode → count → rank, top-100. The count
    is a two-phase hash aggregate (map-side partials absorb the token
    Zipf skew before the exchange); the global rank applies AFTER a
    top-k, so the sort is TakeOrderedAndProject over the surviving 100
    rows, never a full-vocabulary sort. Ties break on the token string
    for a deterministic oracle hash."""
    docs = load(spark, sf_dir, "documents")
    counts = (docs.select(F.explode(
                  F.split(F.trim(F.col("text")), r"\s+")).alias("token"))
              .groupBy("token")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
              .orderBy(F.desc("n"), "token")
              .limit(100))
    from pyspark.sql import Window
    w = Window.orderBy(F.desc("n"), "token")  # 100 rows: single-task OK
    return (counts.withColumn(
                "rank", F.row_number().over(w).cast("bigint"))
            .select("rank", "token", "n"))


@query(
    "tfidf_top_terms",
    oracle=f"""
    SELECT source, term, tf,
           {fround_sql("tf * ln(20.0 / df)", 6)} AS tfidf
    FROM (
        SELECT source, term, tf, df,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY tf * ln(20.0 / df) DESC, term) AS rn
        FROM (
            SELECT source, term, tf,
                   count(*) OVER (PARTITION BY term) AS df
            FROM (
                SELECT source, term, CAST(count(*) AS BIGINT) AS tf
                FROM (SELECT source,
                             unnest(string_split_regex(trim(text), '\\s+'))
                                 AS term
                      FROM documents)
                GROUP BY source, term)))
    WHERE rn <= 3
    ORDER BY source, tfidf DESC, term
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source TF-IDF salience: the terms that distinguish each source
    from the rest of the corpus (source-level mixture diagnostics). Three
    stages, all keyed on bounded-cardinality columns: (1) hash-agg term
    frequency per (source, term); (2) document frequency as a window
    count per term over the AGGREGATED table (vocab-sized, not
    corpus-sized — never a second scan of documents); (3) per-source
    top-3 via row_number. The idf denominator is the fixed 20-source
    layout of this corpus; at scale it is count(distinct source), a
    one-row broadcast."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    tf = (docs.select("source", F.explode(
              F.split(F.trim(F.col("text")), r"\s+")).alias("term"))
          .groupBy("source", "term")
          .agg(F.count(F.lit(1)).cast("bigint").alias("tf")))
    df_w = Window.partitionBy("term")
    score = F.col("tf") * F.log(F.lit(20.0) / F.count(F.lit(1)).over(df_w))
    rank_w = Window.partitionBy("source").orderBy(F.desc("score"), "term")
    return (tf.withColumn("score", score)
            .withColumn("rn", F.row_number().over(rank_w))
            .filter(F.col("rn") <= 3)
            .select("source", "term", "tf",
                    fround(F.col("score"), 6).alias("tfidf"))
            .orderBy("source", F.desc("tfidf"), "term"))


@query(
    "boilerplate_ngrams",
    oracle="""
    SELECT ngram, CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM (
        SELECT t1.doc_id,
               t1.w || ' ' || t2.w || ' ' || t3.w AS ngram
        FROM (SELECT doc_id, unnest(toks) AS w,
                     generate_subscripts(toks, 1) AS pos
              FROM (SELECT doc_id,
                           string_split_regex(trim(text), '\\s+') AS toks
                    FROM documents)) t1
        JOIN (SELECT doc_id, unnest(toks) AS w,
                     generate_subscripts(toks, 1) AS pos
              FROM (SELECT doc_id,
                           string_split_regex(trim(text), '\\s+') AS toks
                    FROM documents)) t2
          ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
        JOIN (SELECT doc_id, unnest(toks) AS w,
                     generate_subscripts(toks, 1) AS pos
              FROM (SELECT doc_id,
                           string_split_regex(trim(text), '\\s+') AS toks
                    FROM documents)) t3
          ON t1.doc_id = t3.doc_id AND t3.pos = t1.pos + 2)
    GROUP BY ngram
    ORDER BY n_occurrences DESC, ngram
    LIMIT 20
    """,
)
def boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide boilerplate detection: the most frequent word
    3-grams, with how many documents carry them (headers, footers,
    license blurbs at real scale). Spark builds the n-grams WITHOUT the
    oracle's positional self-join: one `transform` over a `sequence` of
    start offsets slides the window inside the array column — a single
    scan, one explode, one hash aggregate, top-k. The oracle's 3-way
    join form is the semantic spec; the array-slide form is the 100 TB
    plan (per-row work is O(tokens), no join at all)."""
    docs = load(spark, sf_dir, "documents")
    # sequence(0, size-3) start offsets -> concat_ws of the 3-token
    # slide; documents shorter than 3 tokens contribute an empty array
    # (sequence(0, negative) would flip to a DESCENDING range — guarded).
    # The token array is STAGED through a projection: inlining split()
    # into the lambda re-splits per element (O(tokens²) per doc; see
    # repetition_ratio for the measured 16× cost of that shape).
    # r12: widen the single-row-group scan before the tokenize + 3-gram
    # slide (guide §2.5, heavy-per-row-map rule — measured 0.793 s ->
    # 0.493 s warm at sf0.1, min-of-7 interleaved; counts placement-
    # independent, hash_match at 3 SFs; no-op at 100 TB).
    ngrams = F.expr(
        "CASE WHEN size(toks) >= 3 THEN"
        " transform(sequence(0, size(toks) - 3),"
        " i -> concat_ws(' ', slice(toks, i + 1, 3)))"
        " ELSE array() END")
    return (widen_scan(docs, "doc_id")
            .select("doc_id",
                    F.split(F.trim(F.col("text")), r"\s+").alias("toks"))
            .select("doc_id", F.explode(ngrams).alias("ngram"))
            .groupBy("ngram")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
                 F.countDistinct("doc_id").cast("bigint").alias("n_docs"))
            .orderBy(F.desc("n_occurrences"), "ngram")
            .limit(20))


SEQ_LEN = 512  # packing target length (tokens per training sequence)


@query(
    "encode_docs_to_ids",
    oracle="""
    WITH toks AS (
        SELECT doc_id, pos - 1 AS pos, token
        FROM (SELECT doc_id,
                     unnest(string_split_regex(trim(text), '\\s+')) AS token,
                     generate_subscripts(
                         string_split_regex(trim(text), '\\s+'), 1) AS pos
              FROM documents)),
    vocab AS (
        SELECT token,
               CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT)
                   AS token_id
        FROM (SELECT token, count(*) AS n FROM toks GROUP BY token))
    SELECT doc_id, CAST(pos AS BIGINT) AS pos, token_id
    FROM toks JOIN vocab USING (token)
    """,
)
def encode_docs_to_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize-to-ids — the last mile of training-data prep: every
    document becomes (doc_id, pos, token_id) rows under the corpus's own
    frequency-ranked vocabulary (vocabulary_build's id assignment,
    applied corpus-wide). The relational encoding (exploded rows, not an
    array column) is deliberate: it is the shape the packing step
    consumes, joins stay columnar, and the driver hash covers every id.

    Plan: one posexplode feeds the vocab build; the id attachment joins
    token instances to the vocab table — vocabulary-sized, AQE
    broadcasts it at any realistic vocab/corpus ratio (no hard hint; at
    extreme vocab it degrades to a shuffle join, not an OOM). The
    full-vocab rank is ONE window over the aggregated vocab (vocab-sized
    sort, not corpus-sized). A real BPE tokenizer replaces the vocab
    CTE; the attachment plan is unchanged.

    r12: (a) the (token, token_id) vocab table is STAGED — it feeds the
    broadcast build, and exchange reuse does not cross a broadcast
    boundary (the unigram_logprob_score #13 argument), so each
    execution re-tokenized the corpus TWICE (vocab branch + probe
    branch); the checkpoint is vocab-sized, a digest. (b) widen_scan
    ahead of the posexplode (the heavy-per-row-map rule). Measured
    0.510 -> 0.238 (staging) -> 0.179 s warm at sf0.1 (min-of-7,
    interleaved three ways, every rep below); rows identical;
    hash_match at 3 SFs. Plans:
    plans/r12/encode_docs_to_ids_{before,after}.txt (2 corpus
    tokenize pipelines per execution -> 1 live + the session-staged
    vocab; the join stays a vocab broadcast)."""
    from pyspark.sql import Window

    from ..staging import stage

    docs = widen_scan(
        load(spark, sf_dir, "documents").select("doc_id", "text"),
        "doc_id")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.col("text")), r"\s+"))
        .alias("pos", "token"))
    vocab = stage(
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("token_id",
                    F.row_number().over(
                        Window.orderBy(F.desc("n"), "token"))
                    .cast("bigint"))
        .select("token", "token_id"))
    return (toks.join(vocab, "token")
            .select("doc_id", F.col("pos").cast("bigint").alias("pos"),
                    "token_id"))


@query(
    "pack_sequences",
    oracle=f"""
    WITH counts AS (
        SELECT doc_id, source,
               CAST(len(string_split_regex(trim(text), '\\s+'))
                    AS BIGINT) AS n_tokens
        FROM documents),
    binned AS (
        SELECT source, n_tokens,
               CAST((sum(n_tokens) OVER (
                         PARTITION BY source ORDER BY doc_id
                         ROWS UNBOUNDED PRECEDING) - n_tokens)
                    // {SEQ_LEN} AS BIGINT) AS bin
        FROM counts)
    SELECT source, bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens
    FROM binned GROUP BY source, bin
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing: documents are packed in doc_id order into
    SEQ_LEN-token training bins, PER SOURCE — the sample-packing step
    that turns a curated corpus into fixed-length training sequences
    (bin = starting token offset // SEQ_LEN, the streaming-concat rule).

    Packing is inherently sequential (each bin depends on the running
    token total), so the running sum is partitioned BY SOURCE: each
    shard packs independently and in parallel — the same contract real
    pipelines use (pack within a shard, never globally), keeping the
    cumulative-sum window off the single-reducer path a global ORDER BY
    would force. One shuffle on source, one window, one aggregate."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    counts = docs.select(
        "doc_id", "source",
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
        .cast("bigint").alias("n_tokens"))
    w = (Window.partitionBy("source").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, 0))
    binned = counts.withColumn(
        "bin",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens"))
                / F.lit(SEQ_LEN)).cast("bigint"))
    return (binned.groupBy("source", "bin")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum("n_tokens").cast("bigint").alias("n_tokens")))


BPE_MERGES = 20  # merge rounds to train (toy scale; the loop is the point)

# Session memo (memo.py) for trained merge lists (KB-sized driver state).
_BPE_MEMO: dict[tuple, list[tuple[str, str]]] = {}


def _sq(sym: str) -> str:
    """Quote a BPE symbol for interpolation into a SQL string literal.

    Backslashes must be doubled BEFORE quote-escaping (ADVICE r3): a
    corpus token containing a backslash would otherwise corrupt the
    generated fold expression (or swallow the closing quote).
    """
    return sym.replace("\\", "\\\\").replace("'", "\\'")


def bpe_train(spark: SparkSession, sf_dir: str,
              n_merges: int = BPE_MERGES) -> list[tuple[str, str]]:
    """Train byte-pair-encoding merges on the corpus — the REAL BPE
    formulation (Sennrich et al. 2016): training never touches the
    corpus after one pass, it iterates on the (word, frequency) VOCAB
    table, which is sublinear in corpus size. Each round:

      1. explode each word's current symbol array into adjacent pairs,
         weighted by the word's corpus frequency (one vocab-sized
         aggregate);
      2. pick the most frequent pair (ties broken lexicographically for
         determinism) — a 1-row driver fetch, like the k-means centroid
         collect;
      3. rewrite the symbol arrays, merging every occurrence of that
         pair — a pure-JVM fold over each word's symbols.

    At 100 TB the shape is unchanged: the corpus contributes one
    wordcount pass; the training loop runs on the vocab (10^5-10^7
    rows) with one exchange per round. The merge list is KB-sized
    driver state — exactly what a tokenizer ships as merges.txt.
    Parity with a pure-Python reference BPE is asserted in
    tests/test_textprep_bpe.py.

    Memoized per (application, sf_dir, n_merges): training is a
    deterministic driver loop and BOTH registered consumers
    (bpe_merge_table, bpe_token_stats) call it — the quantizer-memo
    pattern from similarity.kmeans_train."""
    return session_memo(
        _BPE_MEMO, (spark.sparkContext.applicationId, sf_dir, n_merges),
        lambda: _bpe_train(spark, sf_dir, n_merges))


def _bpe_train(spark: SparkSession, sf_dir: str,
               n_merges: int) -> list[tuple[str, str]]:
    docs = load(spark, sf_dir, "documents")
    vocab = (docs.select(F.explode(
                 F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
                 .alias("word"))
             .groupBy("word")
             .agg(F.count(F.lit(1)).alias("freq"))
             # chars -> initial symbol arrays; </w> marks word end so
             # merges can't cross word boundaries (the Sennrich setup)
             .withColumn("syms", F.expr(
                 "concat(split(word, ''), array('</w>'))"))
             .persist())
    try:
        merges: list[tuple[str, str]] = []
        cur = vocab.select("freq", "syms")
        for _ in range(n_merges):
            # guard: a fully merged word has ONE symbol; sequence(1, 0)
            # flips to a DESCENDING [1, 0] range (same trap documented
            # at boilerplate_ngrams) and element_at then walks off the
            # array under ANSI mode.
            pairs = (cur.select(
                "freq",
                F.expr("CASE WHEN size(syms) >= 2 THEN "
                       "transform(sequence(1, size(syms) - 1), "
                       "i -> struct(element_at(syms, i) AS a, "
                       "element_at(syms, i + 1) AS b)) "
                       "ELSE array() END").alias("ps"))
                .select("freq", F.explode("ps").alias("p"))
                .groupBy("p").agg(F.sum("freq").alias("n"))
                .orderBy(F.desc("n"), F.col("p.a"), F.col("p.b"))
                .head())
            if pairs is None or pairs["n"] < 2:
                break
            a, b = pairs["p"]["a"], pairs["p"]["b"]
            merges.append((a, b))
            # merge every adjacent (a,b) left-to-right via an aggregate
            # fold: O(symbols) per word, no Python.
            qa, qb = _sq(a), _sq(b)
            cur = (cur.withColumn("syms", F.expr(
                f"aggregate(syms, array(cast(null as string)), "
                f"(acc, x) -> CASE WHEN size(acc) > 0 "
                f"AND element_at(acc, -1) = '{qa}' AND x = '{qb}' "
                f"THEN concat(slice(acc, 1, size(acc) - 1), "
                f"array('{qa}{qb}')) ELSE concat(acc, array(x)) END, "
                f"acc -> slice(acc, 2, size(acc) - 1))"))
                .localCheckpoint())  # truncate per-round lineage
        return merges
    finally:
        vocab.unpersist()


@query("bpe_merge_table")  # rows-only: iterative training, not oracle SQL
def bpe_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained BPE merge list as a (rank, left, right, merged) table
    — what a tokenizer serializes as merges.txt. Training is bpe_train's
    driver loop over the vocab (eager, like embedding_kmeans); this
    query materializes its KB-sized result distributively for the
    registry's rows-only check."""
    merges = bpe_train(spark, sf_dir)
    rows = [(i + 1, a, b, a + b) for i, (a, b) in enumerate(merges)]
    return spark.createDataFrame(
        rows, "rank int, left string, right string, merged string")


def bpe_segment_expr(col: str, merges: list[tuple[str, str]]) -> str:
    """SQL expression segmenting a word column into BPE subword tokens by
    replaying the trained merge list IN TRAINING ORDER (the defined BPE
    inference rule). Each merge is one JVM aggregate fold — k merges
    chain k folds, all inside one projection; no Python, no shuffle."""
    expr = f"concat(split({col}, ''), array('</w>'))"
    for a, b in merges:
        qa, qb = _sq(a), _sq(b)
        expr = (
            f"aggregate({expr}, array(cast(null as string)), "
            f"(acc, x) -> CASE WHEN element_at(acc, -1) = '{qa}' "
            f"AND x = '{qb}' "
            f"THEN concat(slice(acc, 1, size(acc) - 1), "
            f"array('{qa}{qb}')) ELSE concat(acc, array(x)) END, "
            f"acc -> slice(acc, 2, size(acc) - 1))")
    return expr


@query("bpe_token_stats")  # rows-only: depends on the trained merge list
def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained BPE merges to the corpus and report the subword
    inventory: each surviving token with its corpus frequency and
    whether it is a merged unit or a residual character. Train (vocab
    loop) + apply (one corpus-shaped pass over the VOCAB with each
    word's frequency — applying to the vocab instead of raw text is the
    same sublinearity as training) + aggregate. The inference fold
    replays merges in training order — the defined BPE tokenization
    rule, so train/apply share one code path (bpe_segment_expr).
    Checked against pure-Python segmentation in
    tests/test_textprep_bpe.py."""
    merges = bpe_train(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    vocab = (docs.select(F.explode(
                 F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
                 .alias("word"))
             .groupBy("word")
             .agg(F.count(F.lit(1)).alias("freq")))
    seg = vocab.select(
        "freq", F.explode(F.expr(bpe_segment_expr("word", merges)))
        .alias("token"))
    return (seg.groupBy("token")
            .agg(F.sum("freq").cast("bigint").alias("n"),
                 (F.length(F.regexp_replace("token", "</w>", "")) > 1)
                 .alias("is_merged"))
            .orderBy(F.desc("n"), "token"))


@query(
    "context_windows_report",
    oracle=f"""
    WITH counts AS (
        SELECT doc_id, source,
               CAST(len(string_split_regex(trim(text), '\\s+'))
                    AS BIGINT) AS n_tokens
        FROM documents),
    spans AS (
        SELECT doc_id, source, n_tokens,
               sum(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_sum
        FROM counts),
    placed AS (
        -- sum() over BIGINT is HUGEINT in this engine; pin back to
        -- BIGINT so // and generate_series bind
        SELECT doc_id, source, n_tokens,
               CAST(coalesce(prev_sum, 0) AS BIGINT) AS s,
               CAST(coalesce(prev_sum, 0) + n_tokens AS BIGINT) AS e
        FROM spans WHERE n_tokens > 0),
    exploded AS (
        SELECT source, doc_id, s, e, w
        FROM placed,
             unnest(generate_series(s // {SEQ_LEN},
                                    (e - 1) // {SEQ_LEN})) AS t(w))
    SELECT source, CAST(w AS BIGINT) AS window_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(least(e, (w + 1) * {SEQ_LEN})
                    - greatest(s, w * {SEQ_LEN})) AS BIGINT) AS n_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM exploded GROUP BY source, w
    """,
)
def context_windows_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style context-window packing — the OTHER packing discipline
    beside pack_sequences: documents are concatenated per source in
    doc_id order and the token stream is cut into fixed SEQ_LEN windows
    that CROSS document boundaries (concat-then-chunk, the standard
    pretraining batcher), vs pack_sequences' first-fit binning that
    never splits a doc. Output: per (source, window_id) the token count
    (SEQ_LEN except each source's tail), documents spanned, and the
    first/last doc ids — the loader-facing index of window → documents.

    Plan: doc offsets from ONE running-sum window partitioned by source
    (same off-the-single-reducer contract as pack_sequences), then each
    doc explodes to the windows its [start, end) span overlaps —
    fan-out is ceil(n_tokens/SEQ_LEN)+1 rows per doc, i.e. output is
    O(total_tokens / SEQ_LEN): the explode COMPRESSES the corpus rather
    than inflating it, and no token-level row ever exists. One shuffle
    on source, one on (source, window_id)."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    counts = docs.select(
        "doc_id", "source",
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
        .cast("bigint").alias("n_tokens"))
    w = (Window.partitionBy("source").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    placed = (counts
              .withColumn("s", F.coalesce(F.sum("n_tokens").over(w),
                                          F.lit(0)))
              .withColumn("e", F.col("s") + F.col("n_tokens"))
              .filter(F.col("n_tokens") > 0))
    L = F.lit(SEQ_LEN)
    exploded = placed.select(
        "source", "doc_id", "s", "e",
        F.explode(F.sequence(
            F.floor(F.col("s") / L).cast("bigint"),
            F.floor((F.col("e") - 1) / L).cast("bigint"))).alias("w"))
    win_lo = F.col("w") * L
    win_hi = (F.col("w") + 1) * L
    return (exploded.groupBy("source", F.col("w").alias("window_id"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum(F.least("e", win_hi) - F.greatest("s", win_lo))
                 .cast("bigint").alias("n_tokens"),
                 F.min("doc_id").alias("first_doc"),
                 F.max("doc_id").alias("last_doc")))
