"""Recall/property tests for the dedup ladder (engine extension).

Planted duplicates: verbatim or lightly-mutated copies with a known id
offset.  Each rung must recover every planted pair; precision is exact by
construction (candidates are verified with the true metric).
"""

from __future__ import annotations

import pyspark.sql.functions as F

from timesearch_spark.operators import dedup as dd

OFFSET = 1_000_000


import pytest

def _docs(spark):
    base = [
        (i, f"alpha bravo charlie delta echo foxtrot golf hotel india juliet "
            f"kilo lima mike november oscar papa unique{i} word{i * 7 % 13}")
        for i in range(40)
    ]
    return spark.createDataFrame(base, "doc_id long, text string")


def test_incremental_dedup(spark):
    corpus = _docs(spark).filter(F.col("doc_id") < 30)
    fresh = _docs(spark).filter(F.col("doc_id") >= 30)  # 30..39: new content
    reingest = corpus.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + OFFSET).alias("doc_id"), "text"
    )  # corpus dups
    twice = fresh.filter(F.col("doc_id") == 31).select(
        (F.col("doc_id") + OFFSET).alias("doc_id"), "text"
    )  # within-batch dup of 31
    batch = fresh.unionByName(reingest).unionByName(twice)

    out = {r["doc_id"]: r for r in dd.incremental_dedup(batch, corpus=corpus).collect()}
    assert len(out) == batch.count()
    # fresh docs are new, whitespace/case-insensitively
    for i in range(30, 40):
        assert out[i]["is_new"] and out[i]["dup_of"] is None
    # re-ingested corpus docs point at the corpus keeper (original id)
    for i in range(0, 30, 3):
        assert not out[i + OFFSET]["is_new"]
        assert out[i + OFFSET]["dup_of"] == i
    # the second batch copy of 31 dups the first batch holder
    assert not out[31 + OFFSET]["is_new"]
    assert out[31 + OFFSET]["dup_of"] == 31

    # normalization: case/whitespace variants hit the same fingerprint
    variant = spark.createDataFrame(
        [(999, corpus.first()["text"].upper() + "  ")], "doc_id long, text string"
    )
    v = dd.incremental_dedup(variant, corpus=corpus).first()
    assert not v["is_new"] and v["dup_of"] == corpus.first()["doc_id"]

    # prebuilt-index path gives identical results
    idx = dd.fingerprint_index(corpus)
    out2 = {r["doc_id"]: r for r in dd.incremental_dedup(batch, index=idx).collect()}
    assert out == out2 or all(
        out[k]["is_new"] == out2[k]["is_new"] and out[k]["dup_of"] == out2[k]["dup_of"]
        for k in out
    )

    # exactly one of corpus=/index=
    try:
        dd.incremental_dedup(batch)
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_exact_dedup_groups(spark):
    d = _docs(spark)
    copies = d.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + OFFSET).alias("doc_id"), "text"
    )
    groups = dd.exact_dedup_groups(d.unionByName(copies))
    rows = groups.collect()
    assert sum(r["dup_count"] for r in rows) == 50
    dups = [r for r in rows if r["dup_count"] == 2]
    assert len(dups) == 10
    # keeper is always the min id — the original, never the copy
    assert all(r["keeper_id"] < OFFSET for r in rows)


def test_minhash_recovers_planted_pairs(spark):
    d = _docs(spark)
    mutated = d.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
    )
    pairs = dd.minhash_near_dups(d.unionByName(mutated), threshold=0.5)
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    planted = {(i, i + OFFSET) for i in range(0, 40, 4)}
    assert planted <= got
    # every reported pair really is >= threshold (verified metric)
    assert all(r["jaccard"] >= 0.5 for r in pairs.collect())


def test_simhash_recovers_mutated_copies(spark):
    d = _docs(spark)
    mutated = d.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
    )
    pairs = dd.simhash_near_dups(d.unionByName(mutated), max_hamming=8)
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    planted = {(i, i + OFFSET) for i in range(0, 40, 4)}
    assert planted <= got
    assert all(r["hamming"] <= 8 for r in pairs.collect())


def test_simhash_table_matches_column_api(spark):
    d = _docs(spark).limit(5)
    via_table = {r["doc_id"]: r["sh"] for r in dd.simhash_table(d).collect()}
    via_col = {
        r["doc_id"]: r["sh"]
        for r in d.select("doc_id", dd.simhash64("text").alias("sh")).collect()
    }
    assert via_table == via_col


def test_simhash_empty_docs_kept_and_collide(spark):
    """Zero-token docs must not vanish from the table (column-API parity:
    simhash64 gives them -1), and two empty docs are hamming-0 dups —
    blocking, the persisted index, and the incremental probe all agree."""
    d = spark.createDataFrame(
        [(1, "   "), (2, ""), (3, "real text here"), (4, None)],
        "doc_id long, text string",
    )
    tab = {r["doc_id"]: r["sh"] for r in dd.simhash_table(d).collect()}
    col = {
        r["doc_id"]: r["sh"]
        for r in d.select("doc_id", dd.simhash64("text").alias("sh")).collect()
    }
    assert tab == col and tab[1] == -1 and tab[2] == -1 and tab[4] == -1
    pairs = sorted(
        (r["a"], r["b"], r["hamming"])
        for r in dd.simhash_near_dups(d, max_hamming=3).collect()
    )
    assert pairs == [(1, 2, 0), (1, 4, 0), (2, 4, 0)]
    # incremental probe vs an index containing an empty doc
    idx = dd.simhash_index(d.filter("doc_id = 1"))
    tagged = {
        r["doc_id"]: (r["is_new"], r["dup_of"])
        for r in dd.incremental_simhash_dedup(
            d.filter("doc_id >= 2"), idx
        ).collect()
    }
    assert tagged[2] == (False, 1) and tagged[3][0] is True


def test_minhash_rejects_bad_band_config(spark):
    d = _docs(spark).limit(3)
    import pytest as _pytest

    for bands in (0, 128, 12):
        with _pytest.raises(ValueError, match="bands"):
            dd.minhash_near_dups(d, num_hashes=64, bands=bands).collect()


def test_ngram_jaccard_identical_docs(spark):
    d = spark.createDataFrame(
        [(1, "b", "one two three"), (2, "b", "one two three"), (3, "b", "four five six")],
        "doc_id long, src string, text string",
    )
    pairs = dd.ngram_jaccard_pairs(d, block_col="src", threshold=0.99)
    rows = pairs.collect()
    assert [(r["a"], r["b"]) for r in rows] == [(1, 2)]
    assert rows[0]["jaccard"] == 1.0


def test_ngram_jaccard_prefix_matches_count(spark):
    # overlapping templated docs: both exact methods must agree exactly
    docs = [
        (i, "s" + str(i % 2), " ".join(f"w{j}" for j in range(i % 7, i % 7 + 8)))
        for i in range(30)
    ]
    d = spark.createDataFrame(docs, "doc_id long, src string, text string")
    count_pairs = {
        (r["a"], r["b"], round(r["jaccard"], 9))
        for r in dd.ngram_jaccard_pairs(
            d, block_col="src", threshold=0.3, method="count"
        ).collect()
    }
    prefix_pairs = {
        (r["a"], r["b"], round(r["jaccard"], 9))
        for r in dd.ngram_jaccard_pairs(
            d, block_col="src", threshold=0.3, method="prefix"
        ).collect()
    }
    assert count_pairs == prefix_pairs
    assert count_pairs  # non-degenerate: the fixture does produce pairs


def test_minhash_md5_family_recovers_planted_pairs(spark):
    # the oracle-replayable hash family must keep LSH recall on planted
    # near-dups (string-min permutations, md5 band buckets)
    d = _docs(spark)
    mutated = d.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
    )
    pairs = dd.minhash_near_dups(
        d.unionByName(mutated), threshold=0.5, hash_family="md5"
    )
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    planted = {(i, i + OFFSET) for i in range(0, 40, 4)}
    assert planted <= got


def test_simhash_md5_family_recovers_mutated_copies(spark):
    d = _docs(spark)
    mutated = d.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
    )
    # A planted pair differs by ONE token ('zz'), so its Hamming distance
    # equals the number of bits whose 19-vote base sum the extra vote
    # flips (sum exactly -1 when the vote is +1) — mean ≈ 64·P(S=-1)/2
    # ≈ 5.6 for these 19-token docs, measured max 11 under the current
    # md5 bit family.  12 keeps deterministic margin; pigeonhole recall
    # is exact at any threshold, which is the property under test.
    pairs = dd.simhash_near_dups(
        d.unionByName(mutated), max_hamming=12, hash_family="md5"
    )
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    planted = {(i, i + OFFSET) for i in range(0, 40, 4)}
    assert planted <= got
    # precision is exact: every reported pair <= max_hamming
    assert all(r["hamming"] <= 12 for r in pairs.collect())


def test_connected_components_transitive_chain(spark):
    # a~b and b~c must cluster {a,b,c} together even though a!~c —
    # the case pairwise dedup cannot decide
    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "a long, b long"
    )
    comp = {r["doc_id"]: r["component"]
            for r in dd.connected_components(nodes, edges).collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[5] == comp[6] == 5
    assert comp[4] == 4 and comp[7] == 7  # singletons keep their own id


def test_connected_components_small_graph_gate_parity(spark):
    """The driver union-find (small-graph gate) and the distributed
    hash-min loop are the same operator: identical labels on a graph
    mixing a long chain (diameter > 1 round), a clique, singletons, and
    string ids."""
    import random

    rng = random.Random(7)
    n = 60
    ids = [f"d{i:03d}" for i in range(n)]
    chain = [(ids[i], ids[i + 1]) for i in range(0, 20)]  # diameter 20
    clique = [(ids[a], ids[b]) for a in range(30, 36) for b in range(a + 1, 36)]
    stray = [(ids[rng.randrange(40, 50)], ids[rng.randrange(40, 50)])
             for _ in range(10)]
    edges = spark.createDataFrame(
        [e for e in chain + clique + stray if e[0] != e[1]], "a string, b string"
    )
    nodes = spark.createDataFrame([(i,) for i in ids], "doc_id string")
    small = {r["doc_id"]: r["component"]
             for r in dd.connected_components(nodes, edges).collect()}
    big = {r["doc_id"]: r["component"]
           for r in dd.connected_components(
               nodes, edges, small_graph_max_edges=0).collect()}
    assert small == big
    assert small[ids[20]] == ids[0]          # chain collapses to its min
    assert small[ids[35]] == ids[30]         # clique keeper
    assert small[ids[55]] == ids[55]         # singleton


def test_connected_components_byte_gate_forces_distributed(spark):
    """ADVICE r8: the small-graph gate bounds BYTES as well as edges —
    few edges with long string ids must route to the distributed loop
    instead of collecting an oversized pandas frame, with identical
    labels either way."""
    long_ids = [f"{'x' * 120}{i:03d}" for i in range(8)]
    edges = spark.createDataFrame(
        [(long_ids[i], long_ids[i + 1]) for i in range(7)],
        "a string, b string",
    )
    via_driver = {r["doc_id"]: r["component"]
                  for r in dd.connected_components(None, edges).collect()}
    gated = dd.connected_components(None, edges, small_graph_max_bytes=100)
    # the driver arm (nodes=None) is a LocalTableScan of the fold's
    # output; the byte-gated plan must NOT be that arm
    assert "LocalTableScan" not in gated._jdf.queryExecution() \
        .analyzed().treeString()
    assert {r["doc_id"]: r["component"] for r in gated.collect()} == via_driver


def test_connected_components_byte_gate_measures_octets_and_nulls(spark):
    """ADVICE r9: the gate bounds driver TRANSFER, so it must count
    UTF-8 octets (multi-byte ids undercount up to 4x on characters) and
    a null endpoint must still contribute its non-null side instead of
    nulling the row's whole term out of the sum."""
    # 2-byte chars: 100 chars = 200 octets per endpoint; 3 edges → sym 6
    # rows → 1200 chars but 2400 octets.  A 1500-byte gate must reject.
    wide = [("é" * 97) + f"{i:03d}" for i in range(4)]
    edges = spark.createDataFrame(
        [(wide[i], wide[i + 1]) for i in range(3)], "a string, b string"
    )
    # the driver arm is identifiable by its __cc label column (the
    # union-find's LocalTableScan/LogicalRDD output); the distributed
    # loop's output projects `label`
    def is_driver_arm(df):
        return "__cc" in df._jdf.queryExecution().analyzed().treeString()

    gated = dd.connected_components(None, edges, small_graph_max_bytes=1500)
    assert not is_driver_arm(gated)
    # ...and a comfortable byte budget keeps the driver arm
    driver = dd.connected_components(None, edges, small_graph_max_bytes=64 << 20)
    assert is_driver_arm(driver)

    # null endpoints: (long_id, null) rows used to contribute ZERO bytes
    # (null term) while still counting toward the row gate — the octet
    # sum must see the non-null side and trip the gate
    long_id = "x" * 1000
    nulled = spark.createDataFrame(
        [(long_id + str(i), None) for i in range(3)], "a string, b string"
    )
    gated2 = dd.connected_components(None, nulled, small_graph_max_bytes=1500)
    assert not is_driver_arm(gated2)


def test_dedup_cluster_keeper_is_min_id(spark):
    d = _docs(spark).withColumn("source", F.lit("s"))
    copies = d.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + OFFSET).alias("doc_id"), "text", "source"
    )
    out = dd.dedup_cluster_assignments(
        d.unionByName(copies), block_col="source", threshold=0.9
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    for i in range(0, 40, 4):  # each copy clusters under the original
        assert rows[i + OFFSET]["cluster_id"] == i
        assert not rows[i + OFFSET]["is_keeper"]
        assert rows[i]["is_keeper"]
    # keepers == distinct clusters
    assert sum(r["is_keeper"] for r in rows.values()) == len(
        {r["cluster_id"] for r in rows.values()}
    )


def test_remove_repeated_paragraphs(spark):
    """Boilerplate paragraphs (df > max_df) vanish; unique paragraphs stay
    in order; short repeats survive; row count never changes."""
    from timesearch_spark.operators.dedup import remove_repeated_paragraphs

    boiler = "subscribe to our newsletter for the latest updates and offers"
    rows = [
        (1, f"unique opening one\n\n{boiler}\n\nunique closing one"),
        (2, f"{boiler}\n\nunique middle two"),
        (3, f"unique three a\n\nunique three b\n\n{boiler}"),
        (4, "hi\n\nunique four only"),          # 'hi' repeats but is short
        (5, f"{boiler}"),                        # all boilerplate
        (6, "hi\n\nanother unique six"),
        (7, "hi\n\nlast unique seven"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["text"]
           for r in remove_repeated_paragraphs(docs, max_df=2).collect()}
    assert len(out) == 7                         # row count preserved
    assert out[1] == "unique opening one\n\nunique closing one"
    assert out[2] == "unique middle two"
    assert out[3] == "unique three a\n\nunique three b"
    assert out[4] == "hi\n\nunique four only"    # short repeat kept
    assert out[5] == ""                          # fully boilerplate → empty
    assert out[6] == "hi\n\nanother unique six"


def test_incremental_minhash_dedup(spark):
    """Batch near-dups of corpus docs are tagged with their corpus keeper
    via the persisted index alone; fresh docs come back is_new."""
    from timesearch_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_index,
    )

    base = ("the quick brown fox jumps over the lazy dog while the cat "
            "watches from the tall fence near the old red barn today")
    other = ("completely different content about spark partitions and "
             "shuffle boundaries in a distributed query engine plan")
    corpus = spark.createDataFrame(
        [(1, base), (2, other)], "doc_id long, text string"
    )
    buckets, sigs = minhash_index(corpus)
    batch = spark.createDataFrame(
        [
            (10, base),                                   # exact dup of 1
            (11, base.replace("today", "tonight")),       # near-dup of 1
            (12, "entirely novel text with words that appear nowhere "
                 "else in this corpus of fixtures and fences"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in incremental_minhash_dedup(
        batch, buckets, sigs, threshold=0.5).collect()}
    assert out[10]["is_new"] is False and out[10]["dup_of"] == 1
    assert out[10]["est_jaccard"] == 1.0
    assert out[11]["is_new"] is False and out[11]["dup_of"] == 1
    assert 0.5 <= out[11]["est_jaccard"] < 1.0
    assert out[12]["is_new"] is True and out[12]["dup_of"] is None


def test_incremental_simhash_dedup(spark):
    """Hamming-near batch docs are tagged against the persisted simhash
    index; exact recall via pigeonhole blocking."""
    from timesearch_spark.operators.dedup import (
        incremental_simhash_dedup,
        simhash_index,
    )

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    corpus = spark.createDataFrame(
        [(1, base),
         (2, "unrelated content with completely different tokens here "
             "about engines plans shuffles and partitions")],
        "doc_id long, text string",
    )
    idx = simhash_index(corpus, max_hamming=6)  # chunk layout must match the probe
    batch = spark.createDataFrame(
        [
            (10, base),                                   # identical: hamming 0
            (11, base.replace("upsilon", "omega")),       # one-token edit
            (12, "wholly new vocabulary nothing shared at all with anything "
                 "stored before in this corpus of fixtures"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           incremental_simhash_dedup(batch, idx, max_hamming=6).collect()}
    assert out[10]["is_new"] is False and out[10]["dup_of"] == 1
    assert out[10]["hamming"] == 0
    assert out[11]["is_new"] is False and out[11]["dup_of"] == 1
    assert 0 < out[11]["hamming"] <= 6
    assert out[12]["is_new"] is True and out[12]["dup_of"] is None


_BANDING_GOLDEN_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "The quick brown fox jumps over the lazy cat"),  # near-dup of 1
    (3, "two words"),  # below the shingle width: whole-text shingle
]

#: xxhash64 LSH bucket per band 0..15 (64 hashes, 16 bands, 3-word
#: shingles) for _BANDING_GOLDEN_DOCS — stored minhash indexes hold
#: these values, so any change to the hashing or the band fold breaks
#: compatibility with every index already written.
_BANDING_GOLDEN = {
    1: [
        -7409906206862121120, -5531820440818033989, -3945828888401618298,
        -8640579968636410588, 7426346520465000359, -7991619784196300583,
        -951396299885740100, -2694613883738169023, -8063343015639940897,
        6668538773881401709, -2539597702835871573, -4041319661298515500,
        -1513725640677304654, 3121043939267711301, 5248664146603585391,
        -4035303921083062993,
    ],
    2: [
        -7409906206862121120, -5531820440818033989, 9215315292944991911,
        -6185622292263899709, -4680464290408696340, -7991619784196300583,
        -951396299885740100, -2694613883738169023, -396499172957100519,
        6668538773881401709, -2539597702835871573, -5307392928529084818,
        -1513725640677304654, 3121043939267711301, 5248664146603585391,
        3417449703834889757,
    ],
    3: [
        9208747998081214708, 233459622493523951, -1357274395449712893,
        1800111966450430415, -7531085061708839787, -7264168433743108407,
        -5432990377923794395, 8609934952013671013, -5802552071508817395,
        539189244688431265, 4022688420195831578, 5535060706874808723,
        2487999367990203313, 7117149761257014714, 3435270751388477546,
        -7669754718614841722,
    ],
}


def test_band_buckets_from_sigs_identical_to_banding_path(spark):
    """band_buckets_from_sig_table must produce byte-identical (id,
    band, bucket) rows to minhash_band_buckets' xxhash64 family — the
    two constructions must inter-operate against the same stored
    index — and both must reproduce the hard-coded golden rows, so
    compatibility with indexes already written is checked against fixed
    values, not only one path against the other."""
    from tests.conftest import SF_SMALL
    from timesearch_spark.operators.dedup import (
        band_buckets_from_sig_table,
        minhash_band_buckets,
        minhash_signature_table,
    )
    from timesearch_spark.tables import load

    def both_paths(d):
        via_banding = {
            tuple(r)
            for r in minhash_band_buckets(
                d, "text", "doc_id", 64, 16, 3, "xxhash64"
            ).collect()
        }
        via_sigs = {
            tuple(r)
            for r in band_buckets_from_sig_table(
                minhash_signature_table(d, "text", "doc_id", 64, 3),
                "doc_id", 64, 16,
            ).collect()
        }
        return via_banding, via_sigs

    via_banding, via_sigs = both_paths(
        load(spark, SF_SMALL, "documents").limit(200))
    assert via_banding == via_sigs and len(via_sigs) > 0

    golden = {(i, band, bucket)
              for i, buckets in _BANDING_GOLDEN.items()
              for band, bucket in enumerate(buckets)}
    fixed = spark.createDataFrame(_BANDING_GOLDEN_DOCS,
                                  "doc_id long, text string")
    assert both_paths(fixed) == (golden, golden)


def test_release_pins_unpersists_shared_passes(spark):
    """minhash_index / incremental_minhash_dedup persist a shared
    signature pass; release_pins must actually unpersist it (loop
    callers depend on this to keep CacheManager bounded)."""
    from tests.conftest import SF_SMALL
    from timesearch_spark.operators.dedup import (
        incremental_minhash_dedup, minhash_index, release_pins,
    )
    from timesearch_spark.tables import load

    d = load(spark, SF_SMALL, "documents").limit(100)
    buckets, sigs = minhash_index(d)
    tag = incremental_minhash_dedup(d, buckets, sigs, threshold=0.5)
    tag.count()  # materialize: caches populate
    pins = tag._pinned + buckets._pinned
    assert all(p.storageLevel.useMemory or p.storageLevel.useDisk for p in pins)
    release_pins(tag, buckets, sigs)
    release_pins(tag)  # idempotent; plain DataFrames are a no-op too
    release_pins(d)
    assert all(
        not (p.storageLevel.useMemory or p.storageLevel.useDisk) for p in pins
    )


# --- repeated-span removal (exact-substring-dedup approximation) -------------

def _spans_reference(rows, n, stride, min_occ):
    """Pure-Python reimplementation of remove_repeated_spans for the
    oracle comparison: same ASCII whitespace tokenization (re.ASCII —
    Java's \\s is ASCII-only), same window fingerprints (md5 of the
    lowercased space-joined slice), same single-winner rule
    (min (id, start)), same winner-range protection (a token inside a
    winner span is never removed, so the surviving copy stays intact
    at stride < n), same trailing-separator-preserving rebuild."""
    import hashlib
    import re

    parsed = {}
    for i, txt in rows:
        t = (txt or "").strip()
        parsed[i] = (
            re.findall(r"\S+", t, flags=re.ASCII),
            re.findall(r"\s+", t, flags=re.ASCII),
        )
    occ = []
    for i, (ts, _seps) in parsed.items():
        w = 0
        while w * stride + n <= len(ts):
            s = w * stride
            fp = hashlib.md5(
                " ".join(ts[s:s + n]).lower().encode()
            ).hexdigest()
            occ.append((fp, i, s))
            w += 1
    by_fp = {}
    for fp, i, s in occ:
        by_fp.setdefault(fp, []).append((i, s))
    drop, wins = {}, {}
    for fp, os_ in by_fp.items():
        if len(os_) >= min_occ:
            winner = min(os_)
            for i, s in os_:
                if (i, s) != winner:
                    drop.setdefault(i, []).append(s)
                else:
                    wins.setdefault(i, []).append(s)
    out = {}
    for i, txt in rows:
        ts, seps = parsed[i]
        spans = drop.get(i)
        if not spans:
            out[i] = (txt, 0)
            continue
        protected = wins.get(i, [])
        pieces, kept = [], 0
        for idx, t in enumerate(ts):
            if any(s <= idx < s + n for s in spans) and not any(
                s <= idx < s + n for s in protected
            ):
                continue
            kept += 1
            pieces.append(t + (seps[idx] if idx < len(seps) else ""))
        out[i] = ("".join(pieces).rstrip(), len(ts) - kept)
    return out


def test_repeated_spans_matches_reference_on_documents(spark):
    from tests.conftest import SF_SMALL
    from timesearch_spark.operators.dedup import remove_repeated_spans
    from timesearch_spark.tables import load

    # pin the row set: limit() without ordering may pick different rows
    # per action, so collect once and rebuild the input from those rows
    rows = [
        (r["doc_id"], r["text"])
        for r in load(spark, SF_SMALL, "documents")
        .select("doc_id", "text").limit(300).collect()
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    for n, stride in [(8, 8), (6, 3)]:
        exp = _spans_reference(rows, n, stride, 2)
        got = {
            r["doc_id"]: (r["text"], r["n_removed_tokens"])
            for r in remove_repeated_spans(d, n=n, stride=stride).collect()
        }
        assert set(got) == set(exp)
        mismatches = {k for k in exp if got[k] != exp[k]}
        assert not mismatches, (n, stride, sorted(mismatches)[:3])
        # something must actually repeat in the corpus or the test is vacuous
        assert any(v[1] > 0 for v in exp.values()), (n, stride)


def test_repeated_spans_keeps_one_winner_and_unmodified_docs_verbatim(spark):
    from timesearch_spark.operators.dedup import remove_repeated_spans

    shared = "alpha beta gamma delta epsilon"
    docs = spark.createDataFrame(
        [
            (1, f"{shared} UNIQUE one two three"),
            (2, f"x {shared} SOMETHING else here now"),
            (3, "odd   spacing\npreserved  verbatim when untouched"),
            (4, None),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["text"], r["n_removed_tokens"])
        for r in remove_repeated_spans(docs, n=5, stride=1).collect()
    }
    assert len(out) == 5  # row-preserving
    assert out[1] == (f"{shared} UNIQUE one two three", 0)  # winner keeps it
    assert out[2] == ("x SOMETHING else here now", 5)
    # untouched docs come back byte-identical, nulls/empties survive
    assert out[3] == ("odd   spacing\npreserved  verbatim when untouched", 0)
    assert out[4] == (None, 0)
    assert out[5] == ("", 0)


def test_repeated_spans_within_one_document(spark):
    # the same 4-gram repeated twice INSIDE one doc: second occurrence
    # removed, first kept (min (id, start) wins)
    from timesearch_spark.operators.dedup import remove_repeated_spans

    docs = spark.createDataFrame(
        [(1, "a b c d MID a b c d TAIL end pad pad2")],
        "doc_id long, text string",
    )
    r = remove_repeated_spans(docs, n=4, stride=1).first()
    assert r["text"] == "a b c d MID TAIL end pad pad2"
    assert r["n_removed_tokens"] == 4


def test_repeated_spans_preserves_line_structure(spark):
    # the rebuild carries each kept token's ORIGINAL trailing
    # whitespace: removing a span must not flatten the doc to one line
    # (dup_line_frac downstream depends on surviving newlines)
    from timesearch_spark.operators.dedup import (
        release_pins, remove_repeated_spans,
    )

    shared = "alpha beta gamma delta"
    docs = spark.createDataFrame(
        [
            (1, f"{shared} tail"),
            (2, f"line one here\nline two there\n{shared} X\nlast line four"),
        ],
        "doc_id long, text string",
    )
    out = remove_repeated_spans(docs, n=4, stride=1)
    got = {r["doc_id"]: r["text"] for r in out.collect()}
    assert got[2].count("\n") == 3  # all newlines survive the removal
    assert got[2] == "line one here\nline two there\nX\nlast line four"
    release_pins(out)


def test_repeated_spans_winner_protected_at_overlapping_stride(spark):
    """VERDICT r6 item 8: with stride < n a dropped span can cover the
    winner's tokens; the surgery must protect the winner's range so one
    intact copy survives at every stride.  'A B A B A B' with n=4,
    stride=2 fingerprints the same window at starts 0 and 2; dropping
    start 2 unprotected would delete tokens 2-5 and mutilate the
    winner down to 'A B'."""
    from timesearch_spark.operators.dedup import (
        release_pins, remove_repeated_spans,
    )

    docs = spark.createDataFrame(
        [(1, "A B A B A B")], "doc_id long, text string"
    )
    out = remove_repeated_spans(docs, n=4, stride=2)
    r = out.first()
    release_pins(out)
    assert r["text"] == "A B A B"
    assert r["n_removed_tokens"] == 2


def test_repeated_spans_fuzz_adversarial_whitespace(spark):
    """Seeded adversarial corpus — mixed tabs/newlines/CRs, case
    variants, planted shared runs, tiny docs — compared against the
    pure-Python reference in one Spark pass (hypothesis-style coverage
    without a per-example Spark roundtrip)."""
    import random

    from timesearch_spark.operators.dedup import (
        release_pins, remove_repeated_spans,
    )

    rng = random.Random(1234)
    words = [f"w{i}" for i in range(30)] + ["The", "the", "THE", "a", "A"]
    seps = [" ", "  ", "\t", "\n", "\n\n", " \n ", "\r\n"]
    shared_runs = [
        [rng.choice(words) for _ in range(rng.randint(4, 9))]
        for _ in range(5)
    ]
    rows = []
    for i in range(80):
        toks = [rng.choice(words) for _ in range(rng.randint(0, 25))]
        if rng.random() < 0.5:
            run = rng.choice(shared_runs)
            pos = rng.randint(0, len(toks))
            toks = toks[:pos] + run + toks[pos:]
        pieces = []
        for t in toks:
            pieces.append(t)
            pieces.append(rng.choice(seps))
        text = "".join(pieces)
        if rng.random() < 0.1:
            text = rng.choice(seps) + text  # leading whitespace
        rows.append((i, text if rng.random() > 0.05 else None))

    for n, stride in [(4, 4), (4, 1), (6, 3)]:
        exp = _spans_reference(rows, n, stride, 2)
        out = remove_repeated_spans(
            spark.createDataFrame(rows, "doc_id long, text string"),
            n=n, stride=stride,
        )
        got = {
            r["doc_id"]: (r["text"], r["n_removed_tokens"])
            for r in out.collect()
        }
        release_pins(out)
        bad = {k for k in exp if got[k] != exp[k]}
        assert not bad, (n, stride, sorted(bad)[:3],
                         [(got[k], exp[k]) for k in sorted(bad)[:1]])
        assert any(v[1] > 0 for v in exp.values()), (n, stride)


def test_repeated_paragraphs_fuzz_vs_reference(spark):
    """Seeded adversarial fuzz for remove_repeated_paragraphs against a
    pure-Python mirror of its exact semantics: Java-regex paragraph
    split (\\n\\s*\\n+), space-only TRIM (Spark trim semantics),
    ASCII \\s+ normalization, df > max_df over DISTINCT docs of LONG
    paragraphs only, rebuild joined with blank lines in position
    order."""
    import hashlib
    import random
    import re

    from timesearch_spark.operators.dedup import remove_repeated_paragraphs

    rng = random.Random(99)
    boiler = [
        "subscribe to our newsletter for more cat content today",
        "copyright two thousand twenty four all rights reserved here",
        "hi",  # short: never removable
    ]
    fillers = [f"filler{i}" for i in range(40)]

    def make_doc():
        paras = []
        for _ in range(rng.randint(0, 6)):
            if rng.random() < 0.5:
                p = rng.choice(boiler)
                if rng.random() < 0.3:
                    p = p.upper() if rng.random() < 0.5 else f"  {p}\t"
            else:
                p = " ".join(rng.choice(fillers)
                             for _ in range(rng.randint(1, 12)))
            paras.append(p)
        sep = lambda: rng.choice(["\n\n", "\n \n", "\n\n\n", "\n\t\n"])
        out = ""
        for i, p in enumerate(paras):
            out += p + (sep() if i < len(paras) - 1 else "")
        return out

    rows = [(i, make_doc() if rng.random() > 0.05 else None)
            for i in range(60)]
    max_df, min_chars = 2, 20

    def ref():
        split = lambda t: re.split(r"\n\s*\n+", t, flags=re.ASCII)
        trim = lambda p: p.strip(" ")  # Spark trim: 0x20 only
        norm = lambda p: re.sub(r"\s+", " ", trim(p).lower(), flags=re.ASCII)
        fp = lambda p: hashlib.md5(norm(p).encode()).hexdigest()
        docs_of = {}
        for i, txt in rows:
            for p in split(txt or ""):
                if len(trim(p)) >= min_chars:
                    docs_of.setdefault(fp(p), set()).add(i)
        bad = {f for f, ds in docs_of.items() if len(ds) > max_df}
        out = {}
        for i, txt in rows:
            kept = [
                p for p in split(txt or "")
                if len(trim(p)) < min_chars or fp(p) not in bad
            ]
            out[i] = "\n\n".join(kept)
        return out

    exp = ref()
    got = {
        r["doc_id"]: r["text"]
        for r in remove_repeated_paragraphs(
            spark.createDataFrame(rows, "doc_id long, text string"),
            max_df=max_df, min_chars=min_chars,
        ).collect()
    }
    bad_ids = {k for k in exp if got.get(k) != exp[k]}
    assert not bad_ids, (sorted(bad_ids)[:3],
                         [(got[k], exp[k]) for k in sorted(bad_ids)[:1]])
    # the fuzz must exercise actual removal or it proves nothing
    assert any(exp[i] != (t or "") for i, t in rows)


@pytest.mark.slow
def test_connected_components_durable_checkpoint_identical(spark, tmp_path):
    """Round 9: checkpoint_dir routes the hash-min loop's per-round
    truncation through a RELIABLE checkpoint (file:// here) instead of
    localCheckpoint — identical labels, durable state on disk."""
    import os

    n = 40
    ids = [f"d{i:03d}" for i in range(n)]
    edges = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(0, 25)]  # diameter > 1 round
        + [(ids[30], ids[31]), (ids[31], ids[32])],
        "a string, b string",
    )
    nodes = spark.createDataFrame([(i,) for i in ids], "doc_id string")
    base = {r["doc_id"]: r["component"]
            for r in dd.connected_components(
                nodes, edges, small_graph_max_edges=0).collect()}
    ck = f"file://{tmp_path}/ck_cc"
    durable = {r["doc_id"]: r["component"]
               for r in dd.connected_components(
                   nodes, edges, small_graph_max_edges=0,
                   checkpoint_dir=ck).collect()}
    assert durable == base
    local = tmp_path / "ck_cc"
    assert local.is_dir() and any(os.scandir(local))


def test_repeated_spans_pathological_mostly_duplicated_doc(spark):
    """Round 9: the surgery is an interval sweep (O(tokens + spans log
    spans) per doc), so a document that is almost entirely duplicated
    spans — the shape that made the r8 per-token F.exists form do
    ~tokens²/stride work — completes fast with the exact expected
    arithmetic: one winner window survives per duplicated region."""
    import time

    from timesearch_spark.operators.dedup import (
        release_pins, remove_repeated_spans,
    )

    n_toks = 20_000
    # two docs sharing one giant run => every window fingerprint is
    # duplicated; doc 1 holds every winner (lowest doc id)
    body = " ".join("dup" for _ in range(n_toks))
    df = spark.createDataFrame(
        [(1, body), (2, body), (3, "unique words only here")],
        "doc_id long, text string",
    )
    t0 = time.time()
    out = remove_repeated_spans(df, n=50)
    got = {r["doc_id"]: r for r in out.collect()}
    wall = time.time() - t0
    release_pins(out)
    # doc 1: winner of window 0, but every LATER window of doc 1 is a
    # dropped occurrence (the winner is the global (doc,pos) minimum),
    # so doc 1 keeps exactly its first n tokens
    assert got[1]["n_removed_tokens"] == n_toks - 50
    assert got[1]["text"] == " ".join("dup" for _ in range(50))
    # doc 2: every window dropped, nothing protected
    assert got[2]["n_removed_tokens"] == n_toks
    assert got[2]["text"] == ""
    assert got[3]["text"] == "unique words only here"
    # generous ceiling (shared host): the r8 quadratic form measured
    # 13.5s at 4x these tokens and grows with tokens x spans; the sweep
    # stays flat (~2s, fixed overhead)
    assert wall < 120, f"pathological doc took {wall:.1f}s"


def test_remove_repeated_lines_within(spark):
    """r12: the WITHIN-document repeated-line rewrite — exact-duplicate
    non-blank lines drop after their first occurrence, blank lines and
    order survive, row count is input-preserving, and the plan is pure
    map-side (zero Exchange).  Exactness pinned against a pure-Python
    twin over adversarial fixtures + a seeded fuzz."""
    import random

    from timesearch_spark.operators.dedup import remove_repeated_lines_within

    def twin(text):
        seen, out = set(), []
        for ln in text.split("\n"):
            if ln.strip() == "":
                out.append(ln)
            elif ln not in seen:
                seen.add(ln)
                out.append(ln)
        return "\n".join(out), len(text.split("\n")) - len(out)

    fixtures = [
        "a\nb\na\n\nb\nc",              # interleaved dups across a blank
        "x\nx\nx",                      # run of identical lines
        "",                             # empty doc (one empty line)
        "  \n  \nkeep\n  ",            # whitespace-only lines never drop
        "one",                          # single line
        "A\na\nA",                      # case-sensitive: only exact dups
        "t \nt\nt ",                    # trailing-space variants distinct
        "\n\nbody\n\n",                # leading/trailing blanks survive
    ]
    rng = random.Random(12)
    vocab = ["alpha", "beta", "gamma", "  ", "", "alpha", "x y z"]
    for _ in range(30):
        fixtures.append(
            "\n".join(rng.choice(vocab) for _ in range(rng.randrange(0, 12)))
        )

    docs = spark.createDataFrame(
        list(enumerate(fixtures)), "doc_id long, text string"
    )
    out = remove_repeated_lines_within(docs)
    got = {r["doc_id"]: (r["text"], r["n_removed_lines"])
           for r in out.collect()}
    assert len(got) == len(fixtures)  # row-preserving
    for i, text in enumerate(fixtures):
        assert got[i] == twin(text), (i, text, got[i], twin(text))

    # map-side contract: with max_lines=None (corpus known
    # line-bounded) no shuffle anywhere in the executed plan
    unguarded = remove_repeated_lines_within(docs, max_lines=None)
    plan = unguarded._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    # ... and the unguarded arm returns the identical rows
    assert {r["doc_id"]: (r["text"], r["n_removed_lines"])
            for r in unguarded.collect()} == got

    # r13 straggler guard: with a tiny max_lines the same fixtures
    # route through the explode + first-occurrence-window arm — outputs
    # must be identical ACROSS THE SEAM (some docs inline, some window)
    seam = remove_repeated_lines_within(docs, max_lines=3)
    got_seam = {r["doc_id"]: (r["text"], r["n_removed_lines"])
                for r in seam.collect()}
    assert got_seam == got
    assert any(len(t.split("\n")) > 3 for t in fixtures)  # seam exercised
    assert any(len(t.split("\n")) <= 3 for t in fixtures)

    # r14 null-safety: a NULL-text row must survive routing (ANSI mode
    # makes size(split(NULL)) NULL, which satisfies neither branch
    # predicate without the coalesce guard) and match the unrouted
    # max_lines=None pass-through byte-for-byte.
    with_null = spark.createDataFrame(
        [(0, "a\na\nb"), (1, None), (2, "x")], "doc_id long, text string"
    )
    for ml in (None, 10_000, 2):
        rows = {r["doc_id"]: (r["text"], r["n_removed_lines"])
                for r in remove_repeated_lines_within(
                    with_null, max_lines=ml).collect()}
        assert set(rows) == {0, 1, 2}, f"max_lines={ml} dropped rows"
        assert rows[0] == ("a\nb", 1)
        assert rows[1] == (None, None)  # null text passes through
        assert rows[2] == ("x", 0)

    # the registry entry runs end-to-end on the documents table
    import __spark_entry__ as m

    reg = m.queries()["dedup_intra_lines"](spark, "/root/testdata/sf0.001")
    rows = reg.collect()
    assert len(rows) > 0
    assert set(reg.columns) == {"doc_id", "text_bytes", "n_removed_lines"}
    assert all(r["n_removed_lines"] >= 0 for r in rows)


def test_remove_repeated_lines_pathological_doc_routes_to_window_arm(spark):
    """r13: a 100k-line document — ~10¹⁰ string compares on the inline
    expression — completes in seconds through the guard's explode +
    window arm, with the exact twin output."""
    import time

    from timesearch_spark.operators.dedup import (
        remove_repeated_lines_within,
    )

    # 100k lines drawn from 50 distinct values: worst-ish duplicate
    # density for the window arm (big groups), lethal for the inline
    # arm (array_position scans 100k elements per line)
    n, vocab = 100_000, 50
    text = "\n".join(f"line {i % vocab} payload" for i in range(n))
    docs = spark.createDataFrame(
        [(1, text), (2, "a\nb\na")], "doc_id long, text string"
    )
    t0 = time.monotonic()
    got = {r["doc_id"]: r for r in
           remove_repeated_lines_within(docs).collect()}
    wall = time.monotonic() - t0
    assert wall < 60, f"pathological doc took {wall:.1f}s"
    assert got[1]["n_removed_lines"] == n - vocab
    expect = "\n".join(f"line {i} payload" for i in range(vocab))
    assert got[1]["text"] == expect
    assert (got[2]["text"], got[2]["n_removed_lines"]) == ("a\nb", 1)
