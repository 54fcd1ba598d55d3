"""Golden tests for the comment-forest walk (offline_reading.py parity):
reachability, phantom parents, score-desc render order, preorder positions.
"""

from __future__ import annotations

from timesearch_spark.operators.trees import (
    comment_forest,
    comment_forest_auto,
    comment_forest_big,
    render_comment_html,
)

COLS = "idstr string, parent string, submission string, created long, score long"


import pytest

def _forest(spark, rows):
    return comment_forest(spark.createDataFrame(rows, COLS))


def test_walk_order_score_desc(spark):
    # root -> a(score 5), b(score 9); b renders first (offline_reading.py:211)
    rows = [
        ("t1_a", "t3_s", "s", 1, 5),
        ("t1_b", "t3_s", "s", 2, 9),
        ("t1_c", "t1_a", "s", 3, 1),
    ]
    out = sorted(_forest(spark, rows).collect(), key=lambda r: r["position"])
    assert [r["idstr"] for r in out] == ["t1_b", "t1_a", "t1_c"]
    assert [r["depth"] for r in out] == [0, 0, 1]
    assert [r["position"] for r in out] == [0, 1, 2]
    assert not any(r["phantom"] for r in out)


def test_phantom_parent_for_orphan(spark):
    # t1_x's parent t1_missing doesn't exist -> phantom node under root
    # with data=None semantics (offline_reading.py:360-366).
    rows = [
        ("t1_a", "t3_s", "s", 1, 1),
        ("t1_x", "t1_missing", "s", 2, 7),
    ]
    out = {r["idstr"]: r for r in _forest(spark, rows).collect()}
    assert set(out) == {"t1_a", "t1_x", "t1_missing"}
    assert out["t1_missing"]["phantom"] and out["t1_missing"]["depth"] == 0
    assert out["t1_x"]["parent"] == "t1_missing" and out["t1_x"]["depth"] == 1


def test_every_comment_reachable(spark):
    # SURVEY §5.3: every comment appears exactly once in its thread's walk.
    rows = [
        (f"t1_{i}", ("t3_s" if i % 3 == 0 else f"t1_{i - 1}"), "s", i, i % 7)
        for i in range(30)
    ]
    out = _forest(spark, rows).collect()
    assert sorted(r["idstr"] for r in out) == sorted(f"t1_{i}" for i in range(30))
    assert sorted(r["position"] for r in out) == list(range(30))


def test_multiple_threads_isolated(spark):
    rows = [
        ("t1_a", "t3_s1", "s1", 1, 1),
        ("t1_b", "t1_a", "s1", 2, 1),
        ("t1_c", "t3_s2", "s2", 1, 1),
    ]
    out = _forest(spark, rows).collect()
    by_sub = {}
    for r in out:
        by_sub.setdefault(r["submission"], []).append(r)
    assert len(by_sub["s1"]) == 2 and len(by_sub["s2"]) == 1
    # positions restart per thread
    assert sorted(r["position"] for r in by_sub["s1"]) == [0, 1]
    assert [r["position"] for r in by_sub["s2"]] == [0]


def test_render_html_escapes_with_reference_typo(spark):
    rows = [("t1_a", "t3_s", "s", 1, 1)]
    forest = _forest(spark, rows)
    import pyspark.sql.functions as F

    enriched = forest.withColumn("body", F.lit("a <b> c"))
    html = render_comment_html(enriched).first()["html"]
    # '&rt;' [sic] — the reference's own typo (offline_reading.py:285-290)
    assert "&lt;b&rt;" in html and 'id="t1_a"' in html


def test_null_scores_sort_as_zero_not_nan(spark):
    """Arrow hands nullable long scores over as float64 NaN; the walk
    must treat them as 0 (deterministic sibling order), never let NaN
    poison the sort key into shuffle-order output."""
    rows = [
        ("t1_a", "t3_s", "s", 1, None),   # null score -> 0
        ("t1_b", "t3_s", "s", 2, -5),     # below 0 -> after a
        ("t1_c", "t3_s", "s", 3, 7),      # above 0 -> first
    ]
    for _ in range(3):
        out = sorted(_forest(spark, rows).collect(), key=lambda r: r["position"])
        assert [r["idstr"] for r in out] == ["t1_c", "t1_a", "t1_b"]


# --- mega-thread (distributed walk) ------------------------------------------

def _both(spark, rows, **big_kw):
    """(sequential rows, distributed rows) as sorted comparable tuples."""
    df = spark.createDataFrame(rows, COLS)
    seq = sorted(map(tuple, comment_forest(df).collect()), key=lambda t: (t[0], t[4]))
    big = sorted(map(tuple, comment_forest_big(df, **big_kw).collect()),
                 key=lambda t: (t[0], t[4]))
    return seq, big


def test_big_walk_matches_sequential_goldens(spark):
    """Every golden scenario — score order, phantoms, deep chains, multi
    thread — produces byte-identical rows from the pointer-doubling walk."""
    rows = [
        # thread s1: score-desc siblings + grandchild
        ("t1_a", "t3_s1", "s1", 1, 5),
        ("t1_b", "t3_s1", "s1", 2, 9),
        ("t1_c", "t1_a", "s1", 3, 1),
        # thread s2: phantom parent + null score + tie broken by idstr
        ("t1_d", "t3_s2", "s2", 1, None),
        ("t1_e", "t1_missing", "s2", 2, 7),
        ("t1_f", "t3_s2", "s2", 3, None),
        # thread s3: 12-deep chain (multiple doubling rounds)
        *[
            (f"t1_g{i}", ("t3_s3" if i == 0 else f"t1_g{i-1}"), "s3", i, i)
            for i in range(12)
        ],
    ]
    seq, big = _both(spark, rows)
    assert seq == big and len(seq) == len(rows) + 1  # +1 phantom


@pytest.mark.slow
def test_big_walk_drops_cycles_like_sequential(spark):
    """Parent cycles are unreachable from the root: the reference's
    root-anchored walk never emits them, and neither arm here does."""
    rows = [
        ("t1_a", "t3_s", "s", 1, 1),
        ("t1_x", "t1_y", "s", 2, 5),   # cycle x <-> y
        ("t1_y", "t1_x", "s", 3, 5),
        ("t1_z", "t1_z", "s", 4, 2),   # self-parent
    ]
    seq, big = _both(spark, rows)
    assert seq == big
    assert [t[1] for t in seq] == ["t1_a"]


def test_big_walk_randomized_forest(spark):
    """Fuzz mirror: random forests (phantoms, ties, nulls, deep chains)
    agree between the one-task walk and the distributed walk."""
    import random

    rng = random.Random(8)
    rows = []
    for s in range(6):
        ids = []
        for i in range(rng.randrange(1, 60)):
            idstr = f"t1_s{s}n{i}"
            r = rng.random()
            if not ids or r < 0.2:
                parent = f"t3_s{s}"
            elif r < 0.3:
                parent = f"t1_ghost{rng.randrange(3)}"  # phantom (shared)
            else:
                parent = rng.choice(ids)
            score = rng.choice([None, 0, 1, 5, 5, -3, 100])
            rows.append((idstr, parent, f"s{s}", i, score))
            ids.append(idstr)
    seq, big = _both(spark, rows)
    assert seq == big


@pytest.mark.slow
def test_auto_routes_hot_thread_and_matches(spark):
    """Fixture from the round brief: one thread ~100x the p99 size.  The
    probe must route it to the distributed walk, and the union must equal
    the plain walk's output exactly."""
    rng_rows = []
    for s in range(40):                      # p99-ish threads: 5 comments
        for i in range(5):
            rng_rows.append(
                (f"t1_s{s}n{i}",
                 (f"t3_s{s}" if i == 0 else f"t1_s{s}n{i-1}"),
                 f"s{s}", i, i % 3)
            )
    mega = "smega"                           # one 500-comment mega thread
    for i in range(500):
        parent = f"t3_{mega}" if i % 10 == 0 else f"t1_m{i // 2}"
        rng_rows.append((f"t1_m{i}", parent, mega, i, i % 11))
    df = spark.createDataFrame(rng_rows, COLS)

    plain = sorted(map(tuple, comment_forest(df).collect()))
    auto = sorted(
        map(
            tuple,
            comment_forest_auto(
                df, share_threshold=0.05, min_rows=10, sample_fraction=1.0
            ).collect(),
        )
    )
    assert plain == auto and len(auto) >= 500

    # and the probe really is load-bearing: the mega thread alone IS hot
    from timesearch_spark.operators.skew import detect_hot_keys
    hot = detect_hot_keys(
        df, ["submission"], share_threshold=0.05, min_rows=10,
        sample_fraction=1.0,
    ).collect()
    assert [r["submission"] for r in hot] == [mega]


def test_auto_split_does_not_silently_drop_null_submissions(spark):
    """Review r8: NULL submissions evaluate isin(hot) to NULL, so both
    arms of the hot/cold split would silently drop them.  The auto path
    must treat them exactly like the unsplit walk — which surfaces them
    loudly — never make output depend on the probe outcome."""
    import pytest

    rows = [(f"t1_{i}", "t3_hot" if i == 0 else f"t1_{i-1}", "hot", i, 0)
            for i in range(50)]
    rows.append(("t1_orphan", "t3_x", None, 0, 0))
    df = spark.createDataFrame(rows, COLS)

    with pytest.raises(Exception):
        comment_forest(df).collect()          # unsplit: loud
    with pytest.raises(Exception):
        comment_forest_auto(
            df, share_threshold=0.5, min_rows=10, sample_fraction=1.0
        ).collect()                           # split: must stay loud


@pytest.mark.slow
def test_big_walk_durable_checkpoint_identical(spark, tmp_path):
    """Round 9: checkpoint_dir switches the pointer-doubling walk's
    lineage truncation from localCheckpoint to a RELIABLE checkpoint
    (file:// here) — identical rows, and the checkpoint dir actually
    receives RDD state."""
    import os

    rows = [
        ("t1_a", "t3_s1", "s1", 1, 5),
        ("t1_b", "t3_s1", "s1", 2, 9),
        *[
            (f"t1_g{i}", ("t3_s1" if i == 0 else f"t1_g{i-1}"), "s1", i + 3, i)
            for i in range(10)
        ],
    ]
    ck = f"file://{tmp_path}/ck_trees"
    seq, big = _both(spark, rows, checkpoint_dir=ck)
    assert seq == big
    local = tmp_path / "ck_trees"
    assert local.is_dir() and any(os.scandir(local))  # state landed durably


# --- reference-parity thread pages ------------------------------------------

def _expect_page(sub: dict, comments: list[dict]) -> str:
    """Independent oracle for one thread's page bytes, following
    offline_reading.py:9-296 semantics directly (templates, nesting,
    '\\n\\n' sibling joins, header/footer concat, old.reddit links,
    '%b %d %Y %H:%M:%S' timestamps, escape-then-markdown bodies).
    Children order: score desc, id.lower() asc (listnodes pre-sort,
    offline_reading.py:146-148), then created-asc insertion — Python's
    stable sort over created-sorted lists reproduces all three tiers.
    Orphan subtrees under missing parents are unreachable from ROOT in
    by_parent, matching the reference's never-attached phantom nodes
    (offline_reading.py:358-366)."""
    import datetime

    from timesearch_spark.functions import HAS_MARKDOWN
    from timesearch_spark.operators.trees import (
        COMMENT_FMT, PAGE_FOOTER, PAGE_HEADER_FMT, SUBMISSION_FMT,
        _CHILD_SLOT)

    def md(text):
        escaped = text.replace("<", "&lt;").replace(">", "&rt;")
        if HAS_MARKDOWN:
            import markdown

            return markdown.markdown(escaped, output_format="html5")
        from timesearch_spark.functions.markdown_lite import render

        return render(escaped)

    def human(ts):
        return datetime.datetime.utcfromtimestamp(ts).strftime(
            "%b %d %Y %H:%M:%S")

    def userlink(author):
        if author.lower() == "[deleted]":
            return "[deleted]"
        return f'<a href="https://old.reddit.com/u/{author}">{author}</a>'

    def render_node(c, kids_text):
        link = (f'https://old.reddit.com/r/{c["subreddit"]}/comments/'
                f'{sub["idstr"][3:]}/_/{c["idstr"][3:]}')
        block = COMMENT_FMT % (
            c["idstr"], userlink(c["author"]), c["score"], link,
            human(c["created"]), md(c["body"]),
        )
        return block.replace(_CHILD_SLOT, kids_text)

    by_parent: dict = {}
    for c in sorted(comments, key=lambda c: c["created"]):
        parent = c["parent"] if c["parent"].startswith("t1_") else "ROOT"
        by_parent.setdefault(parent, []).append(c)

    def subtree(c):
        kids = sorted(by_parent.get(c["idstr"], []),
                      key=lambda k: (-k["score"], k["idstr"].lower()))
        return render_node(c, "\n\n".join(subtree(k) for k in kids))

    tops = sorted(by_parent.get("ROOT", []),
                  key=lambda k: (-k["score"], k["idstr"].lower()))
    forest = "\n\n".join(subtree(c) for c in tops)

    if sub.get("url"):
        url_or_text = '<a href="{u}">{u}</a>'.format(u=sub["url"])
    elif sub.get("selftext"):
        url_or_text = md(sub["selftext"])
    else:
        url_or_text = ""
    sub_link = (f'https://old.reddit.com/r/{sub["subreddit"]}/comments/'
                f'{sub["idstr"][3:]}')
    page = SUBMISSION_FMT % (
        sub["idstr"], userlink(sub["author"]), sub["score"], sub_link,
        human(sub["created"]), sub["title"], url_or_text,
    ) + forest
    return (PAGE_HEADER_FMT % sub["title"]) + page + PAGE_FOOTER


def test_thread_pages_byte_parity_with_reference_semantics(spark, tmp_path):
    """r11: the offline_reading page is the reference's COMPLETE
    document — header (title), submission block, comments nested inside
    their parents' collapsible divs with blank-line sibling joins,
    footer — for every submission row, zero-comment threads included.
    Byte-compared against an independent in-test oracle of
    offline_reading.py:9-296 on a fixture covering nesting, unique-score
    ordering, a url post, a self post, markdown + <>-escape bodies, and
    a [deleted] author."""
    import json
    import os

    from timesearch_spark import api

    subs = [
        {"id": "s1", "name": "t3_s1", "created_utc": 100, "author": "ann",
         "subreddit": "t", "title": "A <b>post</b>", "selftext": "hello *md*",
         "score": 7, "is_self": True, "over_18": False, "url": None,
         "num_comments": 3},
        {"id": "s2", "name": "t3_s2", "created_utc": 110, "author": "[deleted]",
         "subreddit": "t", "title": "link post", "selftext": "",
         "score": 2, "is_self": False, "over_18": False,
         "url": "https://example.com/x", "num_comments": 0},
    ]
    comments = [
        {"id": "c1", "name": "t1_c1", "created_utc": 200, "author": "bob",
         "subreddit": "t", "body": "top *one*", "score": 5,
         "parent_id": "t3_s1", "link_id": "t3_s1"},
        {"id": "c2", "name": "t1_c2", "created_utc": 201, "author": "[deleted]",
         "subreddit": "t", "body": "top <two>", "score": 9,
         "parent_id": "t3_s1", "link_id": "t3_s1"},
        {"id": "c3", "name": "t1_c3", "created_utc": 202, "author": "cat",
         "subreddit": "t", "body": "child of one", "score": 1,
         "parent_id": "t1_c1", "link_id": "t3_s1"},
        # orphan subtree: c4's parent was never archived (partial fetch /
        # deleted comment).  The reference's phantom node is never
        # attached to the root, so c4 AND its child c5 must be absent
        # from the page bytes (offline_reading.py:358-366) — no
        # fabricated 'None' block either.
        {"id": "c4", "name": "t1_c4", "created_utc": 203, "author": "dee",
         "subreddit": "t", "body": "orphan ORPHANMARK", "score": 99,
         "parent_id": "t1_gone", "link_id": "t3_s1"},
        {"id": "c5", "name": "t1_c5", "created_utc": 204, "author": "eve",
         "subreddit": "t", "body": "child of orphan ORPHANMARK", "score": 4,
         "parent_id": "t1_c4", "link_id": "t3_s1"},
    ]
    dump = tmp_path / "dump.jsonl"
    dump.write_text("\n".join(json.dumps(o) for o in subs + comments))

    ar = api.Archive(spark, str(tmp_path / "ar"))
    api.ingest_jsonfile(ar, str(dump))
    out = tmp_path / "threads"
    assert api.offline_reading(ar, str(out)) == 2  # zero-comment s2 included
    assert sorted(os.listdir(out)) == ["t3_s1.html", "t3_s2.html"]

    def fields(c):
        return {"idstr": c["name"], "parent": c["parent_id"],
                "author": c["author"], "body": c["body"],
                "score": c["score"], "created": c["created_utc"],
                "subreddit": c["subreddit"]}

    exp1 = _expect_page(
        {"idstr": "t3_s1", "author": "ann", "score": 7, "created": 100,
         "subreddit": "t", "title": "A <b>post</b>", "selftext": "hello *md*",
         "url": None},
        [fields(c) for c in comments],
    )
    got1 = open(out / "t3_s1.html", encoding="utf-8").read()
    assert got1 == exp1
    assert "ORPHANMARK" not in got1      # orphan subtree dropped entirely
    assert "t1_gone" not in got1         # and no phantom 'None' block for it

    exp2 = _expect_page(
        {"idstr": "t3_s2", "author": "[deleted]", "score": 2, "created": 110,
         "subreddit": "t", "title": "link post", "selftext": "",
         "url": "https://example.com/x"},
        [],
    )
    got2 = open(out / "t3_s2.html", encoding="utf-8").read()
    assert got2 == exp2
    # no trailing newline: the reference writes the stripped footer as-is
    assert got2.endswith("</html>")


@pytest.mark.slow
def test_thread_pages_scheme_arm_byte_identical(spark, tmp_path):
    """The staged scheme:// sink must emit byte-identical pages to the
    local arm — including the no-trailing-newline tail, which rides the
    '>' line separator contract."""
    import json
    import os

    from timesearch_spark import api

    objs = [
        {"id": "s1", "name": "t3_s1", "created_utc": 100, "author": "a",
         "subreddit": "t", "title": "T", "selftext": "body", "score": 1,
         "is_self": True, "over_18": False, "url": None, "num_comments": 1},
        {"id": "c1", "name": "t1_c1", "created_utc": 200, "author": "b",
         "subreddit": "t", "body": "x", "score": 1,
         "parent_id": "t3_s1", "link_id": "t3_s1"},
    ]
    dump = tmp_path / "dump.jsonl"
    dump.write_text("\n".join(json.dumps(o) for o in objs))
    ar = api.Archive(spark, str(tmp_path / "ar"))
    api.ingest_jsonfile(ar, str(dump))

    assert api.offline_reading(ar, str(tmp_path / "local_out")) == 1
    assert api.offline_reading(ar, f"file://{tmp_path}/scheme_out") == 1
    a = open(tmp_path / "local_out" / "t3_s1.html", "rb").read()
    b = open(tmp_path / "scheme_out" / "t3_s1.html", "rb").read()
    assert a == b and a.endswith(b"</html>")


@pytest.mark.slow
def test_offline_reading_stream_arm_byte_identical(spark, tmp_path):
    """api.offline_reading(stream=True) — the no-ceiling arm end to end
    — must write the same file SET (zero-comment submissions included,
    comment-only headless threads excluded) with the same bytes as the
    fused default, on both the local and the file:// writer paths."""
    import json
    import os

    from timesearch_spark import api

    objs = [
        {"id": "s1", "name": "t3_s1", "created_utc": 100, "author": "ann",
         "subreddit": "t", "title": "A <b>post</b>", "selftext": "hi *md*",
         "score": 7, "is_self": True, "over_18": False, "url": None,
         "num_comments": 3},
        {"id": "s2", "name": "t3_s2", "created_utc": 110, "author": "bo",
         "subreddit": "t", "title": "zero comments", "selftext": "",
         "score": 2, "is_self": False, "over_18": False,
         "url": "https://example.com/x", "num_comments": 0},
        {"id": "c1", "name": "t1_c1", "created_utc": 200, "author": "bob",
         "subreddit": "t", "body": "top *one*", "score": 5,
         "parent_id": "t3_s1", "link_id": "t3_s1"},
        {"id": "c2", "name": "t1_c2", "created_utc": 201, "author": "cat",
         "subreddit": "t", "body": "child", "score": 9,
         "parent_id": "t1_c1", "link_id": "t3_s1"},
        # orphan subtree: parent never archived -> absent from the page
        {"id": "c3", "name": "t1_c3", "created_utc": 202, "author": "dee",
         "subreddit": "t", "body": "ORPHANMARK", "score": 99,
         "parent_id": "t1_gone", "link_id": "t3_s1"},
        # headless thread: comments exist, submission row does not ->
        # NO page (the reference iterates the submissions table)
        {"id": "c4", "name": "t1_c4", "created_utc": 203, "author": "eve",
         "subreddit": "t", "body": "headless", "score": 1,
         "parent_id": "t3_nosub", "link_id": "t3_nosub"},
    ]
    dump = tmp_path / "dump.jsonl"
    dump.write_text("\n".join(json.dumps(o) for o in objs))
    ar = api.Archive(spark, str(tmp_path / "ar"))
    api.ingest_jsonfile(ar, str(dump))

    fused = tmp_path / "fused"
    assert api.offline_reading(ar, str(fused)) == 2
    for streamed in (tmp_path / "streamed", f"file://{tmp_path}/schemed"):
        assert api.offline_reading(ar, str(streamed), stream=True) == 2
        local = str(streamed).removeprefix("file://")
        assert sorted(os.listdir(local)) == ["t3_s1.html", "t3_s2.html"]
        for name in ("t3_s1.html", "t3_s2.html"):
            a = (fused / name).read_bytes()
            b = open(os.path.join(local, name), "rb").read()
            assert a == b, f"{name}: streamed bytes diverge"
        assert b"ORPHANMARK" not in (fused / "t3_s1.html").read_bytes()


@pytest.mark.slow
def test_thread_pages_fuzz_random_forests(spark, tmp_path):
    """Randomized assembly check: 12 seeded threads with deep chains,
    wide fans, multiple roots, MISSING parents (orphan subtrees dropped,
    reference-style), markdown/brace/unicode bodies and a literal
    '{children}' in one body (the str.format hazard the NUL sentinel
    exists for) must all byte-match the recursive oracle.  Unique scores
    throughout so sibling order here is tiebreak-free; the equal-score
    mixed-case tiebreak has its own test below."""
    import random

    from timesearch_spark.operators.trees import render_thread_pages

    rng = random.Random(411)
    bodies = ["plain", "*em* and **strong**", "line\n\nbreaks",
              "{braces} and {children} literal", "unicode 名前 ümläut",
              "<angle> & amp;", "`code *not em*`", ""]
    subs_rows, com_rows, fixtures = [], [], []
    score_seq = iter(range(10_000, 20_000))
    for t in range(12):
        sid = f"t3_f{t}"
        n = rng.choice([0, 1, 2, 5, 9, 15])
        comments = []
        for i in range(n):
            cid = f"t1_f{t}x{i:02d}"
            # parent: root, a MISSING id (orphan subtree — must vanish
            # from the page like the reference's unattached phantoms),
            # or any earlier comment (deep chains arise naturally when
            # i-1 keeps being picked; a child of an orphan stays an
            # orphan, so whole nested subtrees drop together)
            roll = rng.random()
            if i == 0 or roll < 0.4:
                parent = sid
            elif roll < 0.5:
                parent = f"t1_f{t}gone{i:02d}"
            else:
                parent = comments[rng.randrange(len(comments))]["idstr"]
            comments.append({
                "idstr": cid, "parent": parent, "author": rng.choice(
                    ["ann", "bob", "[deleted]", "名前"]),
                "body": rng.choice(bodies), "score": next(score_seq),
                "created": 1000 + i, "subreddit": "t",
            })
        sub = {"idstr": sid, "author": "op", "score": next(score_seq),
               "created": 500 + t, "subreddit": "t",
               "title": f"thread {t} <with> {{braces}}",
               "selftext": rng.choice(bodies),
               "url": "https://x.example/p" if t % 3 == 0 else None}
        subs_rows.append((sid, sub["author"], sub["title"], sub["url"],
                          sub["selftext"], sub["score"], sub["created"],
                          "t"))
        com_rows.extend(
            (c["idstr"], c["parent"], sid, c["created"], c["score"],
             c["author"], c["body"], "t")
            for c in comments
        )
        fixtures.append((sid, sub, comments))

    submissions = spark.createDataFrame(
        subs_rows,
        "idstr string, author string, title string, url string, "
        "selftext string, score long, created long, subreddit string",
    )
    comments_df = spark.createDataFrame(
        com_rows,
        "idstr string, parent string, submission string, created long, "
        "score long, author string, body string, subreddit string",
    )
    pages = {r["submission"]: r["doc"]
             for r in render_thread_pages(submissions, comments_df).collect()}
    assert len(pages) == 12
    for sid, sub, comments in fixtures:
        parent_of = {c["idstr"]: c["parent"] for c in comments}
        flat = [{**c, "parent": parent_of[c["idstr"]]} for c in comments]
        exp = _expect_page(sub, flat)
        assert pages[sid] == exp, f"{sid} diverges from the recursive oracle"

    # the streamed no-ceiling arm (distributed page-order walk +
    # O(depth) stack writer) must fold the same forests — orphan drops
    # included — into byte-identical files
    from timesearch_spark.operators.exports import write_thread_docs_streamed
    from timesearch_spark.operators.trees import thread_page_fragments

    out = tmp_path / "streamed"
    assert write_thread_docs_streamed(
        thread_page_fragments(submissions, comments_df), str(out)) == 12
    for sid, doc in pages.items():
        got = (out / f"{sid}.html").read_text(encoding="utf-8")
        assert got == doc, f"{sid}: streamed arm diverges from fused"


@pytest.mark.slow
def test_thread_pages_mixed_case_equal_score_tiebreak(spark, tmp_path):
    """Sibling order at EQUAL scores follows the reference's two stable
    sorts — listnodes pre-sorts children by id.lower() ascending
    (offline_reading.py:146-148), html_from_tree re-sorts by -score
    (:210-211) — so the net tiebreak is id.lower() asc, then created-asc
    insertion.  Reddit ids are lowercase base36, which made raw-ascii vs
    .lower() unobservable until now; this fixture forces mixed case,
    including a pair equal AFTER lower() ('t1_AB'/'t1_ab') where created
    order must decide."""
    from timesearch_spark.operators.trees import render_thread_pages

    sub = {"idstr": "t3_mc", "author": "op", "score": 1, "created": 50,
           "subreddit": "t", "title": "mixed", "selftext": "", "url": None}
    # all scores equal; expected order by (lower, created):
    #   t1_AB (created 101) < t1_ab (102, lower-equal, later created)
    #   < t1_Za (104) < t1_zB (103)   [ 'za' < 'zb' ]
    comments = [
        {"idstr": "t1_ab", "parent": "t3_mc", "author": "a", "body": "two",
         "score": 5, "created": 102, "subreddit": "t"},
        {"idstr": "t1_AB", "parent": "t3_mc", "author": "a", "body": "one",
         "score": 5, "created": 101, "subreddit": "t"},
        {"idstr": "t1_zB", "parent": "t3_mc", "author": "a", "body": "four",
         "score": 5, "created": 103, "subreddit": "t"},
        {"idstr": "t1_Za", "parent": "t3_mc", "author": "a", "body": "three",
         "score": 5, "created": 104, "subreddit": "t"},
    ]
    submissions = spark.createDataFrame(
        [(sub["idstr"], sub["author"], sub["title"], sub["url"],
          sub["selftext"], sub["score"], sub["created"], "t")],
        "idstr string, author string, title string, url string, "
        "selftext string, score long, created long, subreddit string",
    )
    comments_df = spark.createDataFrame(
        [(c["idstr"], c["parent"], "t3_mc", c["created"], c["score"],
          c["author"], c["body"], "t") for c in comments],
        "idstr string, parent string, submission string, created long, "
        "score long, author string, body string, subreddit string",
    )
    [row] = render_thread_pages(submissions, comments_df).collect()
    assert row["doc"] == _expect_page(sub, comments)
    order = [row["doc"].index(f'id="{i}"')
             for i in ("t1_AB", "t1_ab", "t1_Za", "t1_zB")]
    assert order == sorted(order), "sibling order must be lower-then-created"

    # the streamed arm expresses the same tiebreak as a WINDOW key
    # (lower(idstr) asc, created asc, idstr asc) — it must agree
    from timesearch_spark.operators.exports import write_thread_docs_streamed
    from timesearch_spark.operators.trees import thread_page_fragments

    out = tmp_path / "streamed"
    assert write_thread_docs_streamed(
        thread_page_fragments(submissions, comments_df), str(out)) == 1
    assert (out / "t3_mc.html").read_text(encoding="utf-8") == row["doc"]


def test_thread_pages_size_guard_fails_loud(spark):
    """A page holds one whole thread in a single task by design; past
    max_thread_rows the assembler must raise an actionable error while
    ACCUMULATING (before the list reaches executor-killing size), not
    die as an unexplained worker OOM.  Normal-size threads through the
    same bound are untouched."""
    import pytest

    from timesearch_spark.operators.trees import assemble_thread_pages

    rows = [(f"t1_c{i:03d}", "t3_big" if i == 0 else f"t1_c{i-1:03d}",
             "t3_big", 100 + i, i, "a", "b", "t") for i in range(25)]
    schema = ("submission string, idstr string, parent string, "
              "created long, score long, author string, body string, "
              "subreddit string")
    df = spark.createDataFrame(
        [(s, i, p, c, sc, a, b, t) for i, p, s, c, sc, a, b, t in rows],
        schema)

    with pytest.raises(Exception, match="max_thread_rows=10"):
        assemble_thread_pages(df, max_thread_rows=10).collect()

    [ok] = assemble_thread_pages(df, max_thread_rows=25).collect()
    [default] = assemble_thread_pages(df).collect()
    assert ok["doc"] == default["doc"]  # bound never changes the bytes


@pytest.mark.slow
def test_thread_pages_streamed_deep_chain(spark, tmp_path):
    """O(depth) claims, pinned at depth 1200: the walk's pointer
    doubling resolves a 1200-deep chain in O(log depth) rounds, the
    fragment render is stateless, and the stack writer is ITERATIVE
    (explicit post stack, no recursion) — Python's default recursion
    limit (1000) would have died here if any arm recursed.  Bytes match
    the fused assembler, whose explicit stack is pinned by the same
    fixture."""
    from timesearch_spark.operators.exports import write_thread_docs_streamed
    from timesearch_spark.operators.trees import (
        render_thread_pages,
        thread_page_fragments,
    )

    depth = 1200
    rows = [("t3_deep", f"t1_d{i:04d}",
             "t3_deep" if i == 0 else f"t1_d{i-1:04d}",
             100 + i, 7, "a", f"level {i}", "t") for i in range(depth)]
    schema = ("submission string, idstr string, parent string, "
              "created long, score long, author string, body string, "
              "subreddit string")
    comments = spark.createDataFrame(rows, schema)
    submissions = spark.createDataFrame(
        [("t3_deep", "op", "deep", None, "b", 1, 50, "t")],
        "idstr string, author string, title string, url string, "
        "selftext string, score long, created long, subreddit string",
    )
    out = tmp_path / "streamed"
    assert write_thread_docs_streamed(
        thread_page_fragments(submissions, comments), str(out)) == 1
    [fused] = render_thread_pages(submissions, comments).collect()
    got = (out / "t3_deep.html").read_text(encoding="utf-8")
    assert got == fused["doc"]
    assert got.count('<div class="comment"') == depth


@pytest.mark.slow
def test_thread_pages_streamed_writes_past_fused_bound(spark, tmp_path):
    """The guard's own escape hatch: a thread the fused arm REFUSES
    (past max_thread_rows) streams through write_thread_docs_streamed —
    whose per-task state is one Arrow batch + an O(depth) close-tag
    stack, never the thread — and produces the bytes the fused arm
    would have at an adequate bound.  The fixture is a 40-deep chain
    plus a 30-wide fan: the chain drives the drain loop through 40
    stacked posts, the fan exercises the sibling separator at one
    level."""
    import pytest

    from timesearch_spark.operators.exports import write_thread_docs_streamed
    from timesearch_spark.operators.trees import (
        assemble_thread_pages,
        render_thread_pages,
        thread_page_fragments,
    )

    rows = [("t3_big", f"t1_c{i:03d}",
             "t3_big" if i == 0 else f"t1_c{i-1:03d}",
             100 + i, 1000 - i, "a", f"chain {i}", "t") for i in range(40)]
    rows += [("t3_big", f"t1_w{i:03d}", "t3_big", 500 + i, i, "w",
              f"fan {i}", "t") for i in range(30)]
    schema = ("submission string, idstr string, parent string, "
              "created long, score long, author string, body string, "
              "subreddit string")
    comments = spark.createDataFrame(rows, schema)
    submissions = spark.createDataFrame(
        [("t3_big", "op", "big thread", None, "body", 1, 50, "t")],
        "idstr string, author string, title string, url string, "
        "selftext string, score long, created long, subreddit string",
    )

    with pytest.raises(Exception, match="max_thread_rows=50"):
        assemble_thread_pages(comments, max_thread_rows=50).collect()

    out = tmp_path / "streamed"
    assert write_thread_docs_streamed(
        thread_page_fragments(submissions, comments), str(out)) == 1
    [fused] = render_thread_pages(submissions, comments).collect()
    got = (out / "t3_big.html").read_text(encoding="utf-8")
    assert got == fused["doc"]
