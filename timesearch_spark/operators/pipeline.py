"""Training-data pipeline operators (engine extension: LLM-pipeline surface).

The reference engine stops at archiving (scan → merge → render); a corpus
destined for model training additionally needs deterministic splitting,
sequence packing, benchmark decontamination, stratified sampling, and PII
redaction.  Everything here is built-in-expression PySpark — JVM-side,
codegen'd, no Python in any hot path — and every operator is registered in
the query registry with a DuckDB oracle.

Scale notes (100 TB):

- ``train_val_test_split`` / ``redact_pii`` are pure map stages: zero
  shuffle, trivially linear.
- ``pack_sequences`` windows per block (source/domain): blocks pack in
  parallel, one shuffle on the block key.  A single pathological block
  serializes its own window only; if one block dominates the corpus,
  pre-split it with a coarse range key and stitch chunk ids with the
  classic two-phase prefix sum (per-range totals are tiny).
- ``decontaminate`` broadcasts the benchmark's gram set — benchmarks are
  MBs, corpora are TBs, so the document grams are probed map-side and
  only matching (doc, gram) pairs ever shuffle.
- ``quota_sample`` shuffles once on the stratum key; the md5 order key
  makes the sample deterministic and uniformly spread regardless of
  input order or partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from timesearch_spark import fs as fsmod
from timesearch_spark.operators.dedup import shingles_from, tokens


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


# --- deterministic train/val/test split -------------------------------------

HEX_SPACE = 16 ** 8  # buckets = first 8 hex chars of md5 → 2^32 of them


def _hex_cut(frac: float) -> str:
    """Cumulative fraction → 8-hex-digit threshold string.

    Fixed-width lowercase hex compares lexicographically exactly as the
    integer it encodes, and md5 hex is identical in Spark and DuckDB —
    so the split is portable WITHOUT a hex→int conversion (DuckDB has
    TO_BASE but no FROM_BASE)."""
    return format(min(int(frac * HEX_SPACE), HEX_SPACE - 1), "08x")


def split_column(
    id_col, train: float = 0.9, val: float = 0.05
) -> Column:
    """'train' / 'val' / 'test' assignment from the md5 of the id.

    Hash-based, not random: stable under reruns, re-partitioning, and
    incremental appends (a new document never flips an old one's split —
    the property `randomSplit` cannot give an evolving corpus)."""
    if not (0 < train < 1 and 0 <= val < 1 and train + val <= 1):
        raise ValueError(f"bad split fractions: train={train} val={val}")
    h = F.substring(F.md5(_c(id_col).cast("string")), 1, 8)
    return (
        F.when(h < _hex_cut(train), "train")
        .when(h < _hex_cut(train + val), "val")
        .otherwise("test")
    )


def train_val_test_split(
    df: DataFrame, id_col: str = "doc_id",
    train: float = 0.9, val: float = 0.05,
) -> DataFrame:
    """Add a deterministic ``split`` column (see ``split_column``)."""
    return df.withColumn("split", split_column(id_col, train, val))


# --- sequence packing --------------------------------------------------------

def pack_sequences(
    df: DataFrame,
    block_col: str = "source",
    order_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 2048,
) -> DataFrame:
    """Assign documents to fixed-token-budget training chunks.

    Contiguous greedy packing: within a block documents are laid out in
    ``order_col`` order and a chunk boundary falls wherever the running
    token total crosses ``budget`` — i.e. ``chunk_id = floor(tokens
    before this doc / budget)``.  A document that straddles a boundary
    belongs to the chunk it starts in (its chunk overflows rather than
    splitting the document).  Deterministic: depends only on the data,
    never on partitioning.

    Returns (block, order_col, n_tokens, chunk_id, chunk_pos).
    """
    w = Window.partitionBy("block").orderBy(order_col)
    n_tok = F.size(tokens(text_col)).cast("long")
    out = (
        df.select(
            _c(block_col).alias("block"),
            _c(order_col).alias(order_col),
            n_tok.alias("n_tokens"),
        )
        .withColumn(
            "cum_before",
            F.coalesce(
                F.sum("n_tokens").over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .withColumn(
            "chunk_id", F.floor(F.col("cum_before") / F.lit(budget)).cast("long")
        )
        .withColumn("chunk_pos", F.row_number().over(w).cast("long"))
    )
    return out.drop("cum_before")


# --- benchmark decontamination ----------------------------------------------

def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_shared: int = 1,
    min_frac: float | None = None,
    max_broadcast_grams: int | None = 5_000_000,
) -> DataFrame:
    """Flag corpus documents whose word-``n``-grams overlap a
    benchmark/eval set (the standard contamination check run before
    training): absolute count (``min_shared``) and, when ``min_frac`` is
    given, the overlap FRACTION of the document's own distinct grams —
    the form real decontamination uses, since one incidental shared gram
    in a long document is noise while 30% overlap is a leaked example.

    Plan shape: the benchmark's distinct grams (small — benchmarks are
    MBs) are broadcast; each document's grams probe the broadcast hash
    map map-side, so nothing shuffles except the matching (doc, gram)
    pairs feeding the per-doc distinct count; the document's own total
    (``n_total``) is a per-row expression carried through the explode.
    The "benchmarks are small" assumption is enforced, not assumed: a
    bounded ``limit(max+1)`` probe counts the gram set first, and past
    ``max_broadcast_grams`` the broadcast hint is DROPPED so the join
    degrades to a shuffle join (same rows, no executor-memory blowup)
    instead of forcing an oversized broadcast.  ``None`` skips the
    probe and always broadcasts (the caller vouches for the size).
    Returns (``id_col``, n_shared, n_total) — integer-only, so the
    fraction never enters a cross-engine float comparison; the
    ``min_frac`` gate is the exact integer inequality
    n_shared * 10^6 >= round(min_frac * 10^6) * n_total.
    """
    # tokens then grams materialized in their own projections: shingling
    # straight off the text re-runs the tokenizing split inside the
    # per-gram lambda (see dedup.shingles_from)
    doc_grams = (
        docs.select(_c(id_col).alias(id_col), tokens(text_col).alias("__tok"))
        .select(id_col,
                F.array_distinct(shingles_from("__tok", n)).alias("__ga"))
        .select(
            id_col,
            F.size("__ga").alias("__n_total"),
            F.explode("__ga").alias("gram"),
        )
    )
    bench_grams = (
        benchmark.select(tokens(text_col).alias("__tok"))
        .select(F.explode(
            F.array_distinct(shingles_from("__tok", n))).alias("gram"))
        .distinct()
    )
    bench_side = F.broadcast(bench_grams)
    if max_broadcast_grams is not None:
        # Footer ceiling first (no job): distinct word-n-grams can't
        # outnumber the benchmark's words, and words can't outnumber
        # its encoded-uncompressed text bytes (byte_size_bound) under
        # Spark's default string encodings; the 4× margin covers
        # prefix-compressing encoders other writers may use.  This is a
        # gate ORDERING optimization, not the guard itself — anything
        # the ceiling can't clear still pays the bounded probe job, so
        # a pathological encoder costs one small job, never an
        # oversized broadcast.
        from timesearch_spark.tables import byte_size_bound

        bb = byte_size_bound(benchmark)
        if bb is None or bb * 4 > max_broadcast_grams:
            # bounded probe: counts at most max+1 rows, never
            # materializes the gram set — one small benchmark-only job
            if (
                bench_grams.limit(max_broadcast_grams + 1).count()
                > max_broadcast_grams
            ):
                bench_side = bench_grams
    out = (
        doc_grams.join(bench_side, on="gram")
        .groupBy(id_col)
        .agg(
            F.count_distinct("gram").alias("n_shared"),
            F.first("__n_total").alias("n_total"),
        )
        .filter(F.col("n_shared") >= min_shared)
    )
    if min_frac is not None:
        frac_micros = round(min_frac * 1_000_000)
        out = out.filter(
            F.col("n_shared") * 1_000_000 >= frac_micros * F.col("n_total")
        )
    return out.select(id_col, "n_shared", "n_total")


# --- stratified quota sampling ----------------------------------------------

def quota_sample(
    df: DataFrame,
    strata_col: str = "source",
    id_col: str = "doc_id",
    k: int = 100,
) -> DataFrame:
    """Exactly ``min(k, |stratum|)`` rows per stratum, picked by md5(id)
    order — a deterministic uniform sample (domain mixing / quota
    balancing).  The md5 sort key makes membership a pure function of
    the id: stable across runs, input order, and partitioning; the id
    tiebreak covers (astronomically unlikely) prefix collisions."""
    h = F.substring(F.md5(_c(id_col).cast("string")), 1, 16)
    w = Window.partitionBy(strata_col).orderBy(h, _c(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def cluster_balanced_sample(
    emb: DataFrame,
    per_cluster: int,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Topic-balanced sampling: assign every row to its nearest-centroid
    cluster, then keep a deterministic ``min(per_cluster, |cluster|)``
    quota per cluster — the diversity-balancing step that stops one
    dominant topic/domain from flooding a training mix, run on the
    embedding column instead of a metadata stratum.

    ``centroids`` is any ``[(cell_id, vector), ...]`` codebook —
    ``similarity.train_codebook`` (k-means||) for production balance, or
    the deterministic ``centroid_seeds`` default here.  Composition of
    two existing scale-shaped pieces: ``assign_cells`` is a pure per-row
    expression against the broadcast codebook (rides the scan, no
    shuffle), and ``quota_sample`` shuffles once on the cluster id with
    an md5-deterministic per-cluster order.  Output: the sampled rows +
    their ``cell`` assignment."""
    from timesearch_spark.operators.similarity import (
        assign_cells,
        centroid_seeds,
    )

    if centroids is None:
        centroids = centroid_seeds(emb, n_clusters, id_col, vec_col)
    assigned = assign_cells(emb, centroids, vec_col)
    return quota_sample(
        assigned, strata_col="cell", id_col=id_col, k=per_cluster
    )


# --- PII redaction ------------------------------------------------------------

#: Deliberately RE2-compatible (no lookaround/backrefs) so the same
#: pattern runs identically under Java regex (Spark) and RE2 (DuckDB).
PII_PATTERNS = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    (r"(\+?\d{1,2}[ -])?\(?\d{3}\)?[ -]\d{3}[ -]\d{4}", "[PHONE]"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
)


def redact_pii(col) -> Column:
    """Replace emails, NANP-style phone numbers, and IPv4 addresses with
    typed placeholders.  Order matters: emails first (their local part
    may contain digits), then phones, then bare IPs."""
    c = _c(col)
    for pat, rep in PII_PATTERNS:
        c = F.regexp_replace(c, pat, rep)
    return c


# --- corpus n-gram statistics -------------------------------------------------

def ngram_top(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    k: int = 20,
) -> DataFrame:
    """Top-``k`` corpus ``n``-grams by document frequency (each document
    counts a gram once), ties broken by gram text — the corpus-statistics
    probe used for boilerplate spotting and stop-gram lists.  Map-side
    partial aggregation collapses each partition's counts before the
    single shuffle; TakeOrderedAndProject keeps the top-k selection
    driver-light."""
    g = F.explode(F.array_distinct(shingles_from("__tok", n))).alias("gram")
    return (
        df.select(tokens(text_col).alias("__tok"))
        .select(g)
        .groupBy("gram")
        .agg(F.count("*").alias("df"))
        .orderBy(F.desc("df"), F.asc("gram"))
        .limit(k)
    )


# --- document chunking --------------------------------------------------------

def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """(id, chunk_id, chunk_text, n_tokens): fixed-budget token chunks
    with ``overlap`` tokens of context between consecutive chunks — the
    standard pre-embedding / pre-tokenization split for long documents.

    Chunk c covers token positions [c·stride, c·stride + max_tokens)
    with stride = max_tokens − overlap.  Built from ONE posexplode of
    the token array: each token computes the (≤ ⌈max/stride⌉, here ≤ 2)
    chunk ids covering it, explodes to (id, chunk, pos, token) and one
    hash aggregate reassembles chunks via position-sorted collect_list.
    No slice-per-chunk expressions — the transform(sequence, i ->
    slice(...)) form re-evaluates the tokenizing split per chunk
    (the text_profile O(n²) lesson) and its Generate would copy the
    whole document per chunk.  Degenerate tail chunks (length ≤ overlap,
    fully contained in their predecessor) are dropped; documents shorter
    than max_tokens yield exactly one chunk; empty documents yield none.
    """
    if not 0 <= overlap < max_tokens:
        raise ValueError("need 0 <= overlap < max_tokens")
    stride = max_tokens - overlap
    from timesearch_spark.tables import spread

    tok = spread(df).select(
        _c(id_col).alias(id_col),
        F.posexplode(tokens(text_col)).alias("__pos", "__t"),
    )
    first_chunk = F.greatest(
        F.lit(0),
        F.ceil((F.col("__pos") - max_tokens + 1) / F.lit(float(stride))).cast("int"),
    )
    last_chunk = F.floor(F.col("__pos") / stride).cast("int")
    exploded = tok.select(
        id_col, "__pos", "__t",
        F.explode(F.sequence(first_chunk, last_chunk)).alias("chunk_id"),
    )
    return (
        exploded.groupBy(id_col, "chunk_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__pos", "__t"))),
                    lambda x: x["__t"],
                ),
                " ",
            ).alias("chunk_text"),
            F.count("*").alias("n_tokens"),
        )
        .filter((F.col("chunk_id") == 0) | (F.col("n_tokens") > overlap))
    )


# --- BM25 corpus ranking ------------------------------------------------------

def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """(id, score): Okapi BM25 relevance of every document to a bag of
    query terms — the canonical corpus-curation ranker (pull the
    documents most relevant to a benchmark/topic, or inversely, inspect
    what a contamination query would retrieve).

    idf(t) = ln(1 + (N - df_t + 0.5)/(df_t + 0.5));
    score  = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)).

    Scale shape: ONE explode of the corpus feeds both the per-doc
    length and the per-(doc, term) counts for the query terms only
    (the filter runs before the count shuffle, so the wide aggregate is
    proportional to query-term hits, not corpus tokens).  N and avgdl
    are 1-row aggregates cross-joined in (no driver collect); the
    per-term document frequencies are a |terms|-row relation, broadcast
    into the scoring join.  Zero-hit documents score 0.0 and are kept —
    filter or rank downstream.
    """
    terms = [t.lower() for t in query_terms]
    tok = df.select(_c(id_col).alias(id_col), F.explode(tokens(text_col)).alias("__t"))
    dl = tok.groupBy(id_col).agg(F.count("*").alias("__dl"))
    hits = tok.filter(F.col("__t").isin(*terms))
    tf = hits.groupBy(id_col, "__t").agg(F.count("*").alias("__tf"))
    dfreq = (
        hits.select(id_col, "__t").distinct()
        .groupBy("__t").agg(F.count("*").alias("__df"))
    )
    globals_ = dl.agg(
        F.count("*").alias("__n"), F.avg("__dl").alias("__avgdl")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("__n") - F.col("__df") + 0.5) / (F.col("__df") + 0.5)
    )
    contrib = (
        tf.join(F.broadcast(dfreq), on="__t")
        .join(F.broadcast(globals_))
        .join(dl, on=id_col)
        .select(
            id_col,
            (
                idf
                * (F.col("__tf") * (k1 + 1))
                / (
                    F.col("__tf")
                    + k1 * (1 - b + b * F.col("__dl") / F.col("__avgdl"))
                )
            ).alias("__c"),
        )
    )
    scored = contrib.groupBy(id_col).agg(F.sum("__c").alias("score"))
    return (
        df.select(_c(id_col).alias(id_col))
        .join(scored, on=id_col, how="left")
        .select(id_col, F.coalesce("score", F.lit(0.0)).alias("score"))
    )


# --- deterministic global shuffle / sharding ----------------------------------

def deterministic_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    seed: str = "0",
    num_shards: int = 16,
) -> DataFrame:
    """(id, shard, pos): seeded deterministic permutation + sharding — the
    "global shuffle" a training loader needs for i.i.d.-looking batches.

    The order key is md5('{seed}:{id}'): uniform, reproducible across
    engines and reruns, and changing the seed is a fresh permutation
    without touching the data.  ``shard`` is the key's first hex nibble
    taken modulo ``num_shards`` (uniform because md5 is), ``pos`` ranks
    within the shard by (key, id) — a per-shard window, so shards
    sort in parallel and NO global single-partition ordering exists
    anywhere in the plan.  A training loader that walks shards
    round-robin by pos reads the full deterministic permutation.

    Scale: one shuffle on the shard key + a per-shard sort; shard count
    bounds sort width, so at 100 TB raise ``num_shards`` to
    corpus_bytes / desired_shard_bytes.  Skew-free by construction —
    which is WHY ``num_shards`` must be a power of two ≤ 256: the shard
    is nibble(s) mod num_shards, and a non-divisor of the 16/256 nibble
    space would give low residues twice the mass of high ones (2× shard
    skew, and a round-robin loader's tail degenerates to the fat
    shards).  Values above 16 use two nibbles (256-way).
    """
    if not 1 <= num_shards <= 256 or (
        (16 if num_shards <= 16 else 256) % num_shards
    ):
        raise ValueError(
            "num_shards must be a power of two in [1, 256] (a non-divisor "
            f"of the nibble space skews shards 2x): {num_shards}"
        )
    width = 1 if num_shards <= 16 else 2
    key = F.md5(F.concat(F.lit(f"{seed}:"), _c(id_col).cast("string")))
    keyed = df.select(_c(id_col).alias(id_col), key.alias("key"))
    # nibble(s) → int without a hex→int builtin (portable to the oracle):
    # position of each hex char in the alphabet, big-endian
    nib = "(locate(substring(key, {i}, 1), '0123456789abcdef') - 1)"
    expr = nib.format(i=1)
    if width == 2:
        expr = f"{expr} * 16 + {nib.format(i=2)}"
    shard = F.pmod(F.expr(expr), F.lit(num_shards)).cast("int")
    w = Window.partitionBy("shard").orderBy("key", id_col)
    return (
        keyed.withColumn("shard", shard)
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select(id_col, "shard", "pos")
    )


# --- end-to-end corpus curation ----------------------------------------------

def rung_counts(metrics: dict) -> dict[str, int]:
    """Row count per recorded curate rung, in ladder order, as ONE Spark
    job (a union of per-rung count aggregates).  Call AFTER consuming
    the ladder's result and BEFORE ``release_pins``: every gate boundary
    (gated and, when on, lm_gated/clf_gated) plus exact are persisted by
    the ladder itself, neardup/decontaminated are pinned extra while an
    audit dict is passed, and the near-dup component state is
    checkpointed — so those counts are cache-local scans.  The one
    exception is ``input``, which re-runs the scan plus any
    paragraph-boilerplate rung (persisting the full input corpus just
    to count it would cost more than the recount at every scale).  With
    ``store_dir`` the recorded rungs are the committed parquet reads.

    (An earlier design observed the counts inside the main action with
    :class:`pyspark.sql.Observation`; observed nodes BELOW a persist
    boundary get their metrics swallowed by the cache-materialization
    execution — Spark hands back an empty row — so the post-hoc count
    over the pinned rungs is the reliable shape.)"""
    from functools import reduce

    if not metrics:
        return {}
    parts = [
        df.agg(F.count(F.lit(1)).alias("rows")).select(
            F.lit(k).alias("rung"), "rows"
        )
        for k, df in metrics.items()
    ]
    one = reduce(lambda a, b: a.unionByName(b), parts)
    counts = {r["rung"]: int(r["rows"]) for r in one.collect()}
    return {k: counts[k] for k in metrics}


# --- shared rung builders ------------------------------------------------------
# The ladder (curate_corpus) composes exactly these builders whichever way
# its rung boundaries are crossed, so "row-identical output" is structural.

def _rung_surgery(docs, text_col, id_col, paragraph_max_df, span_n,
                  span_stride, line_dedup=False, html=False):
    """Optional text surgery (HTML→text extraction FIRST when the
    corpus is raw markup — the web-pipeline ingestion stage, pure map —
    then within-document duplicate lines, then boilerplate paragraphs,
    then repeated spans), BEFORE the profile: quality signals and dedup
    fingerprints must see the text that would actually train.  Returns
    (df, pins): the span rung persists its tokenize/window sub-plans
    and ``.drop()`` discards the ``_pinned`` attribute, so the handles
    are captured here for the caller's release contract."""
    from timesearch_spark.operators.dedup import (
        remove_repeated_lines_within,
        remove_repeated_paragraphs,
        remove_repeated_spans,
    )

    pins: list = []
    if html:
        from timesearch_spark.operators.textstats import html_to_text

        docs = docs.withColumn(text_col, html_to_text(text_col))
    if line_dedup:
        docs = remove_repeated_lines_within(
            docs, text_col, id_col
        ).drop("n_removed_lines")
    if paragraph_max_df is not None:
        docs = remove_repeated_paragraphs(
            docs, text_col, id_col, max_df=paragraph_max_df
        )
    if span_n is not None:
        spanned = remove_repeated_spans(
            docs, text_col, id_col, n=span_n, stride=span_stride
        )
        pins = list(getattr(spanned, "_pinned", []))
        docs = spanned.drop("n_removed_tokens")
    return docs, pins


def _rung_quality_keep(
    docs, text_col, id_col, langs, min_tokens,
    max_dup_line_frac, max_top_bigram_frac,
):
    """(id, lang_guess, n_ws) of documents passing the language /
    length / repetition gate — one profile pass, filtered."""
    from timesearch_spark.operators.textstats import text_profile_table

    prof = text_profile_table(docs, text_col=text_col, id_col=id_col)
    return (
        prof.filter(
            F.col("lang_guess").isin(*langs)
            & (F.col("n_ws") >= min_tokens)
            & (F.coalesce(F.col("dup_line_frac"), F.lit(0.0))
               <= max_dup_line_frac)
            & (F.coalesce(F.col("top_bigram_frac"), F.lit(0.0))
               <= max_top_bigram_frac)
        )
        .select(id_col, "lang_guess", "n_ws")
    )


def _rung_exact_keepers(docs, text_col, id_col):
    """One keeper id per identical-text group (the lowest)."""
    from timesearch_spark.operators.dedup import exact_dedup_groups

    return exact_dedup_groups(docs, text_col, id_col).select(
        F.col("keeper_id").alias(id_col)
    )


def _rung_neardup_non_keepers(docs, text_col, id_col, threshold,
                              checkpoint_dir=None, tok_col=None):
    """Ids to DROP for transitive near-dup closure: minhash-LSH pairs →
    hash-min components → everything but each component's min id.
    Components label ONLY edge-touching nodes (nodes=None) — at corpus
    scale near-dup pairs are a sliver of the data, and label-propagating
    over every untouched document would scan the whole corpus for
    nothing; untouched docs are trivially their own keepers.  No persist
    on pairs: connected_components consumes the pair plan exactly once,
    into its own checkpoint (durable into ``checkpoint_dir`` when the
    caller runs against a scheme:// store, localCheckpoint otherwise)."""
    from timesearch_spark.operators.dedup import (
        connected_components,
        minhash_near_dups,
    )

    pairs = minhash_near_dups(
        docs, text_col, id_col, threshold=threshold, hash_family="xxhash64",
        tok_col=tok_col,
    ).select("a", "b")
    comp = connected_components(None, pairs, id_col=id_col,
                                checkpoint_dir=checkpoint_dir)
    return comp.filter(F.col("component") != F.col(id_col)).select(id_col)


def _rung_decontam_hits(docs, benchmark, text_col, id_col, n, min_frac):
    """Ids of documents contaminated by the benchmark."""
    return decontaminate(
        docs, benchmark, text_col, id_col, n=n, min_frac=min_frac
    ).select(id_col)


#: Rung order of the ladder.  Under ``store_dir`` each entry is a parquet
#: dir under the store root whose presence (with Spark's _SUCCESS marker)
#: means "completed".
STAGED_RUNGS = ("input", "gated", "lm_gated", "clf_gated", "exact",
                "neardup", "decontaminated", "dsir", "final")


def _input_identity(df) -> str | None:
    """Stable identity of a DataFrame's file-backed inputs: sha256 over
    the sorted ``inputFiles`` list (paths, which for immutable parquet
    layouts identify the bytes).  None for in-memory / non-file plans —
    those cannot be identified and the caller falls back to a warning."""
    if df is None:
        return None
    try:
        files = sorted(df.inputFiles())
    except Exception:
        return None
    if not files:
        return None
    import hashlib

    return hashlib.sha256("\n".join(files).encode("utf-8")).hexdigest()


class _StopAfter(Exception):
    """Carries the ``stop_after`` rung's DataFrame out of the ladder once
    that rung has committed."""

    def __init__(self, df: DataFrame):
        super().__init__()
        self.df = df


class _PinnedRungs:
    """In-memory rung boundaries (``store_dir`` unset): the ladder stays
    ONE composed plan.  Each persisted boundary is consumed by 2-3
    downstream branches (gated → exact agg + join; exact → minhash twice
    + the left_anti; pairs → component nodes + edges).  Without persist()
    the whole upstream ladder — profile explode+agg, dedup joins, minhash
    banding — re-executes once PER BRANCH inside the one final action
    (measured 3× wall-clock at sf0.1).  persist is lazy (the returned
    plan stays declarative) and the pinned rungs are the pruned survivor
    sets, not the raw corpus.  The handles ride on the returned
    DataFrame as ``_pinned``: a caller running the ladder in a loop
    should dedup.release_pins(result) after consuming it, or the cache
    entries live for the session."""

    #: the exact rung caches the token arrays for the near-dup rung
    tok_col = "__tok"

    def __init__(self, text_col: str, metrics: dict | None,
                 checkpoint_dir: str | None):
        self.text_col = text_col
        self.metrics = metrics
        self.checkpoint_dir = checkpoint_dir
        self.pins: list = []

    def run(self, ladder):
        return ladder(self)

    def input(self, docs: DataFrame, surgery) -> DataFrame:
        if surgery is not None:
            # the span rung's persisted sub-plans must outlive the
            # returned plan, so they join the release contract
            docs, span_pins = surgery()
            self.pins += span_pins
        return self._record("input", docs)

    def cross(self, rung: str, build) -> DataFrame:
        df = build()
        if rung == "exact":
            # The persisted rung ALSO materializes the token arrays
            # (__tok): the near-dup rung consumes tokens twice (banding +
            # verify), so tokenizing once into the cache trades
            # ~text-sized extra cache for zero re-splits downstream — the
            # audit boundary and the output stay token-free (the record
            # is the dropped projection, a plain Project over the cached
            # plan, so rung_counts stays cache-local).
            df = df.withColumn(self.tok_col, tokens(self.text_col)).persist()
            self.pins.append(df)
            self._record(rung, df.drop(self.tok_col))
            return df
        if rung in ("gated", "lm_gated", "clf_gated") \
                or self.metrics is not None:
            # every gate boundary is persisted (the next gate or the
            # exact rung consumes it twice: keeper agg + join) and its
            # handle kept.  The later boundaries (neardup,
            # decontaminated, dsir) are consumed once by the main plan;
            # they are pinned only while an audit is requested, so
            # rung_counts stays cache-local instead of re-running the
            # component/decontamination passes.
            df = df.persist()
            self.pins.append(df)
        return self._record(rung, df)

    def pin(self, df: DataFrame) -> DataFrame:
        """Pin a plan an eager model fit is about to scan, so the fit
        materializes the upstream ladder into cache once and the plan
        built on it reuses that (already pinned when the audit pinned
        the boundary — don't re-pin)."""
        if not df.storageLevel.useMemory:
            df = df.persist()
            self.pins.append(df)
        return df

    def finish(self, build) -> DataFrame:
        out = build()
        out._pinned = self.pins
        return out

    def _record(self, rung: str, df: DataFrame) -> DataFrame:
        if self.metrics is not None:
            self.metrics[rung] = df
        return df


class _ParquetRungs:
    """Parquet-committed rung boundaries (``store_dir`` set): each rung
    writes to ``<store_dir>/_tmp_<rung>`` and renames into place, so
    readers and resumers only ever see complete rungs (Spark's
    ``_SUCCESS`` marker is checked too, guarding a crash between write
    and rename).  A committed rung is read back instead of rebuilt, so
    a rung's model fit (LM vocab, classifier weights, DSIR buckets)
    reruns only when that rung itself must be recomputed.  Nothing
    stays persist()ed and nothing rides on ``_pinned``: the parquet
    rungs ARE the pins."""

    #: committed rungs are token-free parquet; near-dup re-tokenizes
    tok_col = None

    def __init__(self, spark, store_dir: str, params: dict, sides: dict,
                 resume: bool, lease_timeout_sec: float | None,
                 stop_after: str | None, metrics: dict | None,
                 checkpoint_dir: str | None):
        self.spark = spark
        self.fs = fsmod.get_fs(spark, store_dir)
        self.root = store_dir.rstrip("/")
        self.params = params
        self.sides = sides  # input name -> DataFrame, or None when unset
        self.resume = resume
        self.lease_timeout_sec = lease_timeout_sec
        self.stop_after = stop_after
        self.metrics = metrics
        # a scheme:// store means cluster storage: the hash-min loop
        # checkpoints durably next to the rungs instead of into
        # executor-local blocks
        self.checkpoint_dir = (
            checkpoint_dir or fsmod.derive_checkpoint_dir(self.root))

    def run(self, ladder):
        self.fs.mkdirs(self.root)
        with fsmod.WriterLease.maybe(self.fs, self.root,
                                     self.lease_timeout_sec):
            self._open_manifest()
            try:
                return ladder(self)
            except _StopAfter as stop:
                return stop.df

    def _open_manifest(self) -> None:
        """Start a fresh store, or check that resuming it is safe: the
        same parameters and the same input files as the committed
        rungs."""
        manifest_path = f"{self.root}/curation.json"
        prev = fsmod.read_json(self.fs, manifest_path, default={})
        params = self.params
        inputs = {k: _input_identity(df) for k, df in self.sides.items()}
        if not self.resume or not prev:
            for rung in STAGED_RUNGS:
                self.fs.delete(f"{self.root}/{rung}")
                self.fs.delete(f"{self.root}/_tmp_{rung}")
            fsmod.write_json_atomic(
                self.fs, manifest_path, {"params": params, "inputs": inputs})
            return
        if prev.get("params") != params:
            # union of key sets: an lm-on manifest resumed by an lm-off
            # run differs only by keys ABSENT from the new params
            changed = sorted(
                k for k in set(params) | set(prev.get("params", {}))
                if prev.get("params", {}).get(k) != params.get(k)
            )
            raise ValueError(
                "curate_corpus: resuming with different parameters "
                f"than the manifest at {manifest_path} (changed: {changed}); "
                "pass resume=False to discard the stored rungs and rerun"
            )
        # input-identity drift is the same class of error as a parameter
        # change: committed rungs were computed from the OLD files, and
        # mixing them with new-data rungs is the silently-mixed corpus
        # the manifest exists to prevent
        prev_inputs = prev.get("inputs", {})
        drifted = sorted(
            k for k in inputs
            if inputs[k] is not None
            and prev_inputs.get(k) is not None
            and inputs[k] != prev_inputs[k]
        )
        if drifted:
            raise ValueError(
                "curate_corpus: resuming against different input data "
                f"than the manifest at {manifest_path} (drifted: "
                f"{drifted}); pass resume=False to discard the stored "
                "rungs and rerun"
            )
        unverifiable = sorted(
            k for k, df in self.sides.items()
            if df is not None
            and (inputs[k] is None or prev_inputs.get(k) is None)
        )
        if unverifiable:
            import warnings

            warnings.warn(
                "curate_corpus: cannot verify input identity for "
                f"{unverifiable} (in-memory input or pre-r9 manifest) — "
                "the resume assumes the same inputs as the committed rungs",
                UserWarning,
                stacklevel=4,
            )

    def input(self, docs: DataFrame, surgery) -> DataFrame:
        if surgery is None:
            # The input rung exists to checkpoint the text surgery; with
            # none configured it would be a byte-identical full copy of
            # the (at scale, 100 TB) source corpus — skip the write and
            # let the gate read the source directly.  Resume is
            # unaffected: the resume contract already requires the
            # caller to pass the same docs, which IS the identity rung.
            return docs
        # The span rung's persisted sub-plans are released as soon as
        # the rung parquet is committed — the parquet IS the pin from
        # then on.
        span_pins: list = []

        def build():
            df, pins = surgery()
            span_pins.extend(pins)
            return df

        try:
            return self.cross("input", build)
        finally:
            for p in span_pins:
                p.unpersist()

    def cross(self, rung: str, build) -> DataFrame:
        final = f"{self.root}/{rung}"
        if not self.fs.exists(f"{final}/_SUCCESS"):
            tmp = f"{self.root}/_tmp_{rung}"
            self.fs.delete(tmp)
            build().write.mode("overwrite").parquet(tmp)
            self.fs.delete(final)  # a crashed write without _SUCCESS
            self.fs.rename(tmp, final)
        df = self.spark.read.parquet(final)
        if self.metrics is not None:
            self.metrics[rung] = df
        if rung == self.stop_after:
            raise _StopAfter(df)
        return df

    def pin(self, df: DataFrame) -> DataFrame:
        return df  # already a committed parquet read

    def finish(self, build) -> DataFrame:
        return self.cross("final", build)


def curate_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    langs: tuple[str, ...] = ("en",),
    min_tokens: int = 5,
    max_dup_line_frac: float = 0.5,
    max_top_bigram_frac: float = 0.5,
    neardup_threshold: float = 0.7,
    paragraph_max_df: int | None = None,
    span_n: int | None = None,
    span_stride: int | None = None,
    line_dedup: bool = False,
    html: bool = False,
    benchmark: DataFrame | None = None,
    decontam_n: int = 8,
    decontam_min_frac: float | None = 0.1,
    train: float = 0.9,
    val: float = 0.05,
    metrics: dict | None = None,
    checkpoint_dir: str | None = None,
    lm_ref: DataFrame | None = None,
    lm_ppl_max: float | None = None,
    lm_vocab_size: int = 50_000,
    clf_pos: DataFrame | None = None,
    clf_neg: DataFrame | None = None,
    clf_min_score: float | None = None,
    clf_dim: int = 1 << 16,
    dsir_target: DataFrame | None = None,
    dsir_k: int | None = None,
    dsir_dim: int = 1 << 14,
    store_dir: str | None = None,
    resume: bool = True,
    lease_timeout_sec: float | None = None,
    stop_after: str | None = None,
) -> DataFrame:
    """The full curation ladder a pretraining pipeline runs: optional
    HTML→text extraction (``html`` — the raw web-corpus ingestion stage,
    textstats.html_to_text, pure map; runs before everything so every
    later signal sees prose, not markup) → optional within-document
    duplicate-line removal (``line_dedup`` — the finest-grain surgery,
    pure map) → optional paragraph-boilerplate removal
    (``paragraph_max_df``) → optional repeated-span removal
    (``span_n`` — the windowed exact-substring rung, one surviving
    winner per span) → quality signals → language/quality gate →
    optional unigram-LM perplexity gate (``lm_ref`` + ``lm_ppl_max``:
    CCNet-style, drop documents whose ppl under the reference-corpus
    model exceeds the bound — textstats.unigram_lm/lm_score; the vocab
    is broadcast state, so the rung is one more map-side pass over the
    already-gated survivors) → optional trained-classifier gate
    (``clf_pos`` + ``clf_neg`` + ``clf_min_score``: fastText-style
    hashed-linear filter — textstats.train_quality_classifier /
    quality_clf_score; the weight table is broadcast state, so this is
    one more map-side pass too) → exact dedup → minhash near-dup removal
    (transitively closed) → optional benchmark decontamination
    (``benchmark``, fraction-gated) → optional DSIR importance
    resampling (``dsir_target`` + ``dsir_k``: keep the k documents most
    like the target distribution under hashed n-gram models —
    :func:`dsir_resample`; runs LAST so the importance pool is the
    cleaned, deduped, decontaminated survivor set and the selection is
    never diluted by rows later rungs would drop) → deterministic
    split.  Output: the surviving docs with (lang_guess, n_ws, split).

    Every rung reuses the scale-shaped operator it names — the profile's
    single explode+agg pass, fingerprint groupBy (8-byte digests, never
    text), LSH banding with candidate-only verification, hash-min
    components, md5 split — so the composition inherits each rung's
    100 TB story; Catalyst pipelines the gates into the scans.  Order
    matters for cost: the quality gate runs FIRST so dedup's shuffles
    only carry documents that could survive.

    How a rung boundary is crossed depends on ``store_dir``; the rungs
    and their decisions do not, so both forms return row-identical
    tables (test-pinned):

    - unset: ONE composed plan with in-memory pins (see
      :class:`_PinnedRungs`).  Call ``dedup.release_pins(result)`` once
      the result is consumed.
    - set: each rung boundary is CHECKPOINTED to ``store_dir`` (see
      :class:`_ParquetRungs`) — the fault-tolerance contract a
      multi-hour curation job needs: a run killed at rung 4 restarts
      from rung 4, not rung 0.  A ``curation.json`` manifest pins the
      ladder parameters AND the input identity (a digest of the docs'
      and the side inputs' sorted parquet ``inputFiles``): resuming with
      DIFFERENT parameters or against DIFFERENT input data is a loud
      error, not a silently mixed corpus.  In-memory inputs (no file
      lineage) cannot be identified; those resume with a
      ``UserWarning`` and the same-docs contract falls back to the
      caller.  ``resume=False`` wipes the store and recomputes
      everything.  ``lease_timeout_sec`` serializes two concurrent
      runners over the same store via :class:`~timesearch_spark.fs.
      WriterLease` (same contract as the ingest stores).  ``stop_after``
      (a rung name) ends the run after that rung commits — the ops hook
      for staged/priority scheduling, and the crash injection point for
      the resume tests.  Trade: every boundary pays a parquet
      write+read instead of an in-memory pin — pure overhead at
      benchmark scale, and at 100 TB the difference between re-running
      a day of shuffles and reading yesterday's survivors back columnar.
      ``resume``, ``lease_timeout_sec`` and ``stop_after`` need
      ``store_dir``.

    ``metrics``: pass an empty dict and each rung-boundary DataFrame is
    recorded under its name (``input``, ``gated``, ``lm_gated`` /
    ``clf_gated`` when those rungs are on, ``exact``, ``neardup``,
    ``decontaminated``, ``dsir`` when selected; with ``store_dir`` the
    committed rungs, ``final`` included, and ``input`` only when
    surgery is on) — the audit a production curation run logs.  After
    consuming the result (and before ``release_pins``),
    :func:`rung_counts` turns the dict into row counts with one job over
    the pinned or committed boundaries.
    """
    for knobs, values in (
        ("lm_ref and lm_ppl_max", (lm_ref, lm_ppl_max)),
        ("clf_pos, clf_neg and clf_min_score",
         (clf_pos, clf_neg, clf_min_score)),
        ("dsir_target and dsir_k", (dsir_target, dsir_k)),
    ):
        given = [v is not None for v in values]
        if any(given) and not all(given):
            raise ValueError(
                f"curate_corpus: {knobs} come together — a "
                "partially-configured rung would silently gate nothing")
    has_surgery = (paragraph_max_df is not None or span_n is not None
                   or line_dedup or html)

    if store_dir is None:
        if not resume or lease_timeout_sec is not None \
                or stop_after is not None:
            raise ValueError(
                "curate_corpus: resume, lease_timeout_sec and stop_after "
                "need store_dir")
        boundary = _PinnedRungs(text_col, metrics, checkpoint_dir)
    else:
        optional = {"input": has_surgery, "lm_gated": lm_ref is not None,
                    "clf_gated": clf_pos is not None,
                    "decontaminated": benchmark is not None,
                    "dsir": dsir_target is not None}
        if stop_after is not None and (
                stop_after not in STAGED_RUNGS
                or not optional.get(stop_after, True)):
            raise ValueError(
                f"stop_after={stop_after!r} is not a rung of this ladder "
                f"(rungs: {STAGED_RUNGS}; the optional ones exist only "
                "when configured)")
        params = {
            "text_col": text_col, "id_col": id_col, "langs": list(langs),
            "min_tokens": min_tokens, "max_dup_line_frac": max_dup_line_frac,
            "max_top_bigram_frac": max_top_bigram_frac,
            "neardup_threshold": neardup_threshold,
            "paragraph_max_df": paragraph_max_df,
            "span_n": span_n, "span_stride": span_stride,
            "has_benchmark": benchmark is not None,
            "decontam_n": decontam_n, "decontam_min_frac": decontam_min_frac,
            "train": train, "val": val,
        }
        # The optional rungs' keys are present only when the rung is ON:
        # a manifest written before a rung existed stays resumable by a
        # run with that rung off, while mixing on and off runs over one
        # store is the loud params error.
        if line_dedup:
            params["line_dedup"] = True
        if html:
            params["html"] = True
        if lm_ref is not None:
            params.update({"lm_ppl_max": lm_ppl_max,
                           "lm_vocab_size": lm_vocab_size,
                           "has_lm_ref": True})
        if clf_pos is not None:
            params.update({"clf_min_score": clf_min_score,
                           "clf_dim": clf_dim, "has_clf_ref": True})
        if dsir_target is not None:
            params.update({"dsir_k": dsir_k, "dsir_dim": dsir_dim,
                           "has_dsir_target": True})
        sides = {"docs": docs, "benchmark": benchmark, "lm_ref": lm_ref,
                 "clf_pos": clf_pos, "clf_neg": clf_neg,
                 "dsir_target": dsir_target}
        boundary = _ParquetRungs(
            docs.sparkSession, store_dir, params, sides, resume,
            lease_timeout_sec, stop_after, metrics, checkpoint_dir)

    def surgery():
        return _rung_surgery(
            docs, text_col, id_col, paragraph_max_df, span_n, span_stride,
            line_dedup=line_dedup, html=html,
        )

    def ladder(b):
        cur = b.input(docs, surgery if has_surgery else None)
        cur = b.cross("gated", lambda: cur.join(
            _rung_quality_keep(
                cur, text_col, id_col, langs, min_tokens,
                max_dup_line_frac, max_top_bigram_frac,
            ),
            id_col,
        ))

        if lm_ref is not None:
            def build_lm_gated():
                # CCNet-style perplexity gate on the heuristic-gated
                # survivors: the vocab is bounded broadcast state, so
                # this adds one explode + broadcast-join + hash-agg pass
                # — no new corpus-sized shuffle — and runs BEFORE dedup
                # for the same reason the quality gate does (dedup's
                # shuffles only carry keepers).
                from timesearch_spark.operators.textstats import (
                    lm_score, unigram_lm,
                )

                vocab, oov = unigram_lm(
                    lm_ref, text_col, vocab_size=lm_vocab_size)
                keep = (
                    lm_score(cur, vocab, oov, text_col, id_col)
                    .filter((F.col("n_tok") > 0)
                            & (F.col("ppl") <= lm_ppl_max))
                    .select(id_col)
                )
                return cur.join(keep, id_col, "left_semi")

            cur = b.cross("lm_gated", build_lm_gated)

        if clf_pos is not None:
            def build_clf_gated():
                # Trained-classifier gate (the third standard quality
                # filter, after the heuristic gate and the LM rung): fit
                # once from the bounded labeled sample, then one
                # map-side scoring pass over the survivors — the weight
                # table is broadcast state like the LM vocab, and the
                # rung runs BEFORE dedup for the same cost argument.
                from timesearch_spark.operators.textstats import (
                    quality_clf_score, train_quality_classifier,
                )

                Wc, bc = train_quality_classifier(
                    clf_pos, clf_neg, text_col, dim=clf_dim)
                keep = (
                    quality_clf_score(cur, Wc, bc, text_col, id_col,
                                      dim=clf_dim)
                    .filter(F.col("score") >= clf_min_score)
                    .select(id_col)
                )
                return cur.join(keep, id_col, "left_semi")

            cur = b.cross("clf_gated", build_clf_gated)

        # exact dedup: keep the lowest id of each identical-text group
        cur = b.cross("exact", lambda: cur.join(
            _rung_exact_keepers(cur, text_col, id_col), id_col))

        def build_neardup():
            # near-dup removal, transitively closed: pairs → components
            # → keeper (see _rung_neardup_non_keepers for the plan notes)
            kept = cur.join(
                _rung_neardup_non_keepers(
                    cur, text_col, id_col, neardup_threshold,
                    checkpoint_dir=b.checkpoint_dir, tok_col=b.tok_col,
                ),
                id_col,
                "left_anti",
            )
            return kept.drop(b.tok_col) if b.tok_col else kept

        cur = b.cross("neardup", build_neardup)

        if benchmark is not None:
            # decontaminate LAST: the broadcast-probe runs over the
            # smallest surviving set, and near-dups of a leaked doc are
            # already gone
            cur = b.cross("decontaminated", lambda: cur.join(
                _rung_decontam_hits(
                    cur, benchmark, text_col, id_col,
                    decontam_n, decontam_min_frac,
                ),
                id_col,
                "left_anti",
            ))

        if dsir_target is not None:
            def build_dsir():
                # DSIR selection LAST (public recipe: Xie et al. 2023):
                # the importance pool is the final survivor set.
                # dsir_resample collects its two dim-bounded bucket
                # models EAGERLY (broadcast-state build, like the
                # near-dup rung's octet probe), so the pool is pinned
                # first and the selection join reuses it.
                pool = b.pin(cur)
                keep = dsir_resample(
                    pool, dsir_target, dsir_k, text_col, id_col,
                    dim=dsir_dim,
                ).select(id_col)
                return pool.join(F.broadcast(keep), id_col, "left_semi")

            cur = b.cross("dsir", build_dsir)

        return b.finish(
            lambda: train_val_test_split(cur, id_col, train, val).select(
                id_col, text_col, "lang_guess", "n_ws", "split"
            )
        )

    return boundary.run(ladder)


# --- corpus mixing: weighted resampling + token budgets ----------------------

def weighted_resample(
    df: DataFrame,
    rates: dict[str, float],
    stratum_col: str = "source",
    id_col: str = "doc_id",
    default_rate: float = 1.0,
    seed: str = "mix",
) -> DataFrame:
    """Deterministic per-stratum resampling at arbitrary rates — the
    data-mixing step that turns raw source proportions into a training
    mix (temperature sampling, up/down-weighting).  ``rates[s] = 0.25``
    keeps ~25% of stratum s; ``rates[s] = 2.3`` emits every doc 2 times
    plus a third copy for ~30% of them.

    Membership and copy count are pure functions of (seed, id): stable
    under reruns, repartitioning, and appends — never `rand()`.  Output
    adds ``copy`` (0-based) so downstream shuffles can treat copies as
    distinct rows.  Plan: one generate (posexplode over a per-row copy
    count), no shuffle, no driver state beyond the broadcast rate map.
    """
    if not all(r >= 0 for r in rates.values()) or default_rate < 0:
        raise ValueError("rates must be >= 0")
    rate = F.lit(default_rate)
    for s, r in sorted(rates.items()):
        rate = F.when(_c(stratum_col) == s, F.lit(float(r))).otherwise(rate)
    # hash-fraction in [0, 1): first 13 hex chars (52 bits — exact in the
    # double mantissa) of md5(seed:id)
    frac = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), _c(id_col).cast("string"))), 1, 13),
        16, 10,
    ).cast("double") / float(16 ** 13)
    n_copies = (F.floor(rate) + F.when(frac < rate - F.floor(rate), 1).otherwise(0)).cast("int")
    return (
        df.withColumn("__n", n_copies)
        .filter(F.col("__n") > 0)
        .select("*", F.posexplode(F.array_repeat(F.lit(0), F.col("__n"))).alias("copy", "__z"))
        .drop("__n", "__z")
    )


def dsir_weights(
    docs: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 1 << 14,
    alpha: float = 1.0,
    seed: str = "dsir",
    hash_family: str = "xx64",
) -> DataFrame:
    """(id, n_feat, logw): per-document log importance weight
    ln p_target(x) − ln p_raw(x) under hashed n-gram bag models — the
    DSIR recipe (Data Selection via Importance Resampling, Xie et al.
    2023, public): fit two add-α multinomials over hashed unigram +
    word-bigram buckets, one from the TARGET distribution you want the
    training mix to look like, one from the RAW pool itself, then score
    every raw document by its log-likelihood ratio.  Positive logw =
    more target-like than pool-average.

    Models are BOUNDED state: bucket counts aggregate to at most
    ``dim`` rows per corpus (one explode + hash-agg each), are
    collected once, and the per-bucket log-ratio is computed
    DRIVER-side with libm log (the unigram_lm determinism recipe —
    1-ulp JVM/libm drift would leak into rounded sums) and broadcast
    back.  Scoring is the lm_score plan: explode the document's feature
    indices (textstats._qclf_feature_idx with the ``seed`` namespace) →
    broadcast-join the log-ratio table → per-doc decimal(28,9) sum of
    9-dp-rounded terms — map-side at any corpus size, exact and
    partial-sum-order-independent.  Buckets unseen in BOTH corpora get
    the constant smoothed ratio ln(α/(N_t+α·dim)) − ln(α/(N_r+α·dim)).

    Zero-token documents keep a row with n_feat=0 and logw=0 (an empty
    product under both models — no evidence either way).

    ``hash_family="md5"`` swaps the feature hash for the DuckDB-
    replayable md5 family (textstats._qclf_feature_idx — the
    dedup_minhash_lsh oracle-replay pattern); xx64 stays the
    production default."""
    import math

    import pandas as pd

    from timesearch_spark.operators.textstats import _qclf_feature_idx

    if dim < 2 or alpha <= 0:
        raise ValueError("dsir_weights: bad hyperparameters")
    spark = docs.sparkSession

    def bucket_counts(df: DataFrame) -> tuple[dict, int]:
        rows = (
            df.select(tokens(text_col).alias("__tok"))
            .select(F.explode(
                _qclf_feature_idx("__tok", dim, seed, hash_family))
                .alias("idx"))
            .groupBy("idx").agg(F.count(F.lit(1)).alias("c"))
            .collect()  # bounded by dim — broadcast-state build
        )
        counts = {int(r["idx"]): int(r["c"]) for r in rows}
        return counts, sum(counts.values())

    tc, tn = bucket_counts(target)
    rc, rn = bucket_counts(docs)
    t_denom = tn + alpha * dim
    r_denom = rn + alpha * dim
    seen = sorted(set(tc) | set(rc))
    llr_of = [
        math.log((tc.get(i, 0) + alpha) / t_denom)
        - math.log((rc.get(i, 0) + alpha) / r_denom)
        for i in seen
    ]
    default_llr = math.log(alpha / t_denom) - math.log(alpha / r_denom)
    llr = spark.createDataFrame(pd.DataFrame({
        "idx": pd.Series(seen, dtype="int32"),
        "llr": pd.Series(llr_of, dtype="float64"),
    }), "idx int, llr double")

    feats = docs.select(
        _c(id_col).alias(id_col),
        tokens(text_col).alias("__tok"),
    ).select(
        id_col,
        F.explode_outer(
            _qclf_feature_idx("__tok", dim, seed, hash_family)).alias("idx"),
    )
    counts = feats.groupBy(id_col, "idx").agg(F.count("idx").alias("__c"))
    contrib = counts.join(F.broadcast(llr), "idx", "left").select(
        id_col,
        "__c",
        F.round(
            F.col("__c").cast("double")
            * F.coalesce("llr", F.lit(float(default_llr))),
            9,
        ).cast("decimal(28,9)").alias("__w"),
    )
    agg = contrib.groupBy(id_col).agg(
        F.sum("__c").alias("n_feat"),
        F.sum(F.when(F.col("__c") > 0, F.col("__w"))).alias("__lw"),
    )
    return agg.select(
        id_col,
        F.col("n_feat").cast("long").alias("n_feat"),
        F.round(F.coalesce(F.col("__lw").cast("double"), F.lit(0.0)), 9)
        .alias("logw"),
    )


def dsir_resample(
    docs: DataFrame,
    target: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 1 << 14,
    alpha: float = 1.0,
    seed: str = "dsir",
    hash_family: str = "xx64",
) -> DataFrame:
    """Top-``k`` Gumbel importance resample of ``docs`` toward the
    ``target`` distribution (DSIR's selection step, Xie et al. 2023):
    draw key = logw + Gumbel noise per document and keep the k largest
    — equivalent to sampling k documents WITHOUT replacement with
    probability ∝ p_target/p_raw, but embarrassingly parallel (no
    sequential sampler state).

    The noise is DETERMINISTIC: u = (h + 0.5) / 2⁶⁰ with h the first 15
    hex digits of md5('{seed}:{id}') — uniform, reproducible across
    reruns/partitionings/engines (never ``rand()``, the
    deterministic_shuffle rule), g = −ln(−ln u).  Selection is one
    TakeOrdered of the narrow (id, key) relation — k bounded by
    contract, nothing corpus-sized leaves the executors.  Output:
    (id, n_feat, logw, key), key desc = selection order."""
    if k < 1:
        raise ValueError("dsir_resample: k must be >= 1")
    w = dsir_weights(docs, target, text_col, id_col, dim, alpha, seed,
                     hash_family)
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{seed}:"),
                               _c(id_col).cast("string"))), 1, 15),
            16, 10,
        ).cast("double") + F.lit(0.5)
    ) / F.lit(float(1 << 60))
    g = -F.log(-F.log(u))
    key = F.round(F.col("logw") + g, 9)
    return (
        w.withColumn("key", key)
        .orderBy(F.desc("key"), F.asc(id_col))
        .limit(int(k))
    )


def budget_sample(
    df: DataFrame,
    token_budget: int,
    stratum_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: str = "budget",
) -> DataFrame:
    """Select documents per stratum, in deterministic hash order, until
    each stratum's cumulative whitespace-token count reaches
    ``token_budget`` — the fill-the-mix-to-N-tokens selection a training
    run actually performs (doc counts are the wrong unit; budgets are
    tokens).

    The first document that CROSSES the budget is still included (budgets
    are lower bounds), everything after it is not.  One shuffle on the
    stratum; the running sum is an ordered window over (hash, id) so
    membership is a pure function of the data and the seed.  Output:
    (id, stratum, n_tokens, cum_tokens)."""
    from timesearch_spark.operators.dedup import tokens

    key = F.md5(F.concat(F.lit(f"{seed}:"), _c(id_col).cast("string")))
    d = df.select(
        _c(id_col).alias(id_col),
        _c(stratum_col).alias(stratum_col),
        F.size(tokens(text_col)).cast("long").alias("n_tokens"),
        key.alias("__k"),
    )
    w = Window.partitionBy(stratum_col).orderBy("__k", id_col)
    cum = F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        d.withColumn("cum_tokens", cum)
        .filter(F.col("cum_tokens") - F.col("n_tokens") < token_budget)
        .select(id_col, stratum_col, "n_tokens", "cum_tokens")
    )
