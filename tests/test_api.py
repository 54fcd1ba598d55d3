"""End-to-end facade tests: the reference's subcommand surface on Spark."""

from __future__ import annotations

import json
import os

from timesearch_spark import api


import pytest

def _fetcher(items):
    def fetch(after, before, limit):
        page = [d for d in items if d["created_utc"] >= after]
        if before is not None:
            page = [d for d in page if d["created_utc"] < before]
        return page[:limit]

    return fetch


def _sub(i, **kw):
    d = {
        "id": f"s{i}", "name": f"t3_s{i}", "created_utc": 100 + i,
        "author": f"user{i % 3}", "subreddit": "t", "title": f"post {i}",
        "selftext": f"text {i}", "score": i, "is_self": False,
        "over_18": False, "url": f"https://x/{i}", "num_comments": 0,
    }
    d.update(kw)
    return d


def _com(i, **kw):
    d = {
        "id": f"c{i}", "name": f"t1_c{i}", "created_utc": 200 + i,
        "author": f"user{i % 3}", "subreddit": "t", "body": f"reply {i}",
        "score": i, "parent_id": "t3_s0", "link_id": "t3_s0",
    }
    d.update(kw)
    return d


@pytest.mark.slow
def test_get_submissions_backfill_and_resume(spark, tmp_path):
    ar = api.Archive(spark, str(tmp_path / "ar"))
    n = api.get_submissions(ar, _fetcher([_sub(i) for i in range(5)]), lower=0,
                            page_size=3)
    assert n == 5
    assert ar.submissions.snapshot().count() == 5
    # 'update' resumes from max(created)-1 and re-merges idempotently
    n2 = api.get_submissions(ar, _fetcher([_sub(i) for i in range(7)]),
                             lower="update", page_size=10)
    assert ar.submissions.snapshot().count() == 7
    assert n2 >= 2  # the two new items (plus overlap re-reads)


def test_get_submissions_enrichment_later_wins(spark, tmp_path):
    ar = api.Archive(spark, str(tmp_path / "ar"))

    def lookup(ids):
        return {i: dict(_sub(int(i[1:]), score=999), id=i) for i in ids if i == "s1"}

    api.get_submissions(ar, _fetcher([_sub(0), _sub(1)]), lower=0, lookup=lookup)
    rows = {r["idstr"]: r["score"] for r in ar.submissions.snapshot().collect()}
    assert rows["t3_s1"] == 999  # live copy (priority 2) wins
    assert rows["t3_s0"] == 0


def test_ingest_jsonfile_and_breakdown(spark, tmp_path):
    ar = api.Archive(spark, str(tmp_path / "ar"))
    p = tmp_path / "dump.jsonl"
    p.write_text(
        "\n".join(json.dumps(o) for o in
                  [_sub(0), _sub(1), _com(0), _com(1), _com(2)])
    )
    counts = api.ingest_jsonfile(ar, str(p))
    assert counts == {
        "new_submissions": 2, "new_comments": 3,
        "total_submissions": 2, "total_comments": 3,
    }

    # Re-ingesting the same archive reports a ZERO delta (TSDB.insert's
    # new_values semantics, tsdb.py:335-339) but unchanged totals.
    counts2 = api.ingest_jsonfile(ar, str(p))
    assert counts2 == {
        "new_submissions": 0, "new_comments": 0,
        "total_submissions": 2, "total_comments": 3,
    }

    bd = api.breakdown(ar)
    agg = {r["author"]: (r["submissions"], r["comments"]) for r in bd.collect()}
    assert agg["user0"] == (1, 1) and agg["user1"] == (1, 1) and agg["user2"] == (0, 1)

    path = api.breakdown(ar, sort="total_posts", out_dir=str(tmp_path / "out"))
    text = open(path).read()
    assert text.startswith("{\n") and '"user0": {"submissions": 1' in text


def test_ingest_jsonfile_stops_at_first_blank_line(spark, tmp_path):
    """Reference file semantics (ingest_jsonfile.py:29-39): the line
    loop BREAKS at the first blank (or whitespace-only) line — anything
    after it is never read, blank-as-EOF."""
    ar = api.Archive(spark, str(tmp_path / "ar_blank"))
    p = tmp_path / "dump_blank.jsonl"
    p.write_text(
        json.dumps(_sub(0)) + "\n" + json.dumps(_com(0)) + "\n"
        + "   \n"  # whitespace-only: the reference's strip() makes it blank
        + json.dumps(_sub(1)) + "\n"
    )
    counts = api.ingest_jsonfile(ar, str(p))
    assert counts["new_submissions"] == 1  # s1 sits past the blank line
    assert counts["new_comments"] == 1
    assert ar.submissions.snapshot().filter("idstr = 't3_s1'").count() == 0


def test_ingest_jsonfile_raises_on_unrecognizable_object(spark, tmp_path):
    """Reference parity (ingest_jsonfile.py:39): an object classifiable
    as neither submission nor comment fails the ingest with ValueError —
    it is not silently dropped.  A corrupt JSON line parses to an
    all-null row and trips the same check (json.loads would raise)."""
    import pytest

    ar = api.Archive(spark, str(tmp_path / "ar_bad"))
    p = tmp_path / "dump_bad.jsonl"
    p.write_text(
        json.dumps(_sub(0)) + "\n"
        + json.dumps({"id": "x9", "title": "no kind markers"}) + "\n"
    )
    with pytest.raises(ValueError, match="Could not recognize object type"):
        api.ingest_jsonfile(ar, str(p))

    p2 = tmp_path / "dump_corrupt.jsonl"
    p2.write_text(json.dumps(_sub(0)) + "\n" + "{not json!!\n")
    with pytest.raises(ValueError, match="Could not recognize object type"):
        api.ingest_jsonfile(ar, str(p2))


def test_index_export_formats(spark, tmp_path):
    ar = api.Archive(spark, str(tmp_path / "ar"))
    p = tmp_path / "dump.jsonl"
    p.write_text("\n".join(json.dumps(_sub(i, score=10 * i)) for i in range(3)))
    api.ingest_jsonfile(ar, str(p))

    txt = api.index(ar, str(tmp_path / "idx"), orderby="score", score_threshold=10)
    lines = open(txt).read().strip().split("\n")
    assert len(lines) == 2  # threshold filtered s0 out
    assert "(+20)" in lines[0] and "(+10)" in lines[1]  # score desc
    assert "[post 2](https://redd.it/s2)" in lines[0]

    html = api.index(ar, str(tmp_path / "idx"), orderby="date", html=True)
    content = open(html).read()
    # the reference's header begins with the triple-quote's newline —
    # byte parity with index.py:22-36 includes it
    assert content.startswith("\n<html>") and content.rstrip().endswith("</html>")
    assert 'href="https://reddit.com/u/user1"' in content


def test_offline_reading_writes_thread_files(spark, tmp_path):
    ar = api.Archive(spark, str(tmp_path / "ar"))
    p = tmp_path / "dump.jsonl"
    objs = [_sub(0)] + [_com(i) for i in range(3)]
    p.write_text("\n".join(json.dumps(o) for o in objs))
    api.ingest_jsonfile(ar, str(p))

    n = api.offline_reading(ar, str(tmp_path / "threads"))
    assert n == 1
    files = os.listdir(tmp_path / "threads")
    assert files == ["t3_s0.html"]
    doc = open(tmp_path / "threads" / files[0]).read()
    assert doc.count('<div class="comment"') == 3


@pytest.mark.slow
def test_offline_reading_incremental_rerenders_only_changed(spark, tmp_path):
    """incremental=True: first run renders everything and seeds the
    fingerprint manifest; an unchanged re-run renders NOTHING; after a
    delta (new comment on one thread + a brand-new thread) only those
    threads re-render, byte-identical to a from-scratch full render.
    Change detection covers the comment multiset AND submission-row
    render fields (title probed at the fingerprint level —
    ingest_jsonfile itself is insert-only per the reference)."""
    ar = api.Archive(spark, str(tmp_path / "ar"))
    p = tmp_path / "dump.jsonl"
    objs = [_sub(0), _sub(1)] + [_com(i) for i in range(3)]
    p.write_text("\n".join(json.dumps(o) for o in objs))
    api.ingest_jsonfile(ar, str(p))

    out = tmp_path / "threads"
    assert api.offline_reading(ar, str(out), incremental=True) == 2
    assert os.path.isdir(out / api.PAGE_MANIFEST)
    first_s0 = (out / "t3_s0.html").read_bytes()

    # unchanged archive: nothing re-renders
    assert api.offline_reading(ar, str(out), incremental=True) == 0

    # delta: one new comment on s0, one new thread s2; s1 untouched
    p2 = tmp_path / "dump2.jsonl"
    p2.write_text("\n".join(json.dumps(o) for o in [
        _com(9, parent_id="t1_c0", link_id="t3_s0"),
        _sub(2), _com(7, parent_id="t3_s2", link_id="t3_s2"),
    ]))
    api.ingest_jsonfile(ar, str(p2))
    # prove s1 is NOT re-rendered: remove its page; an incremental run
    # must not restore it (a full run would)
    os.remove(out / "t3_s1.html")
    assert api.offline_reading(ar, str(out), incremental=True) == 2
    assert not os.path.exists(out / "t3_s1.html")
    new_s0 = (out / "t3_s0.html").read_bytes()
    assert new_s0 != first_s0  # picked up the new comment

    # the incremental bytes == a from-scratch full render
    full = tmp_path / "full"
    assert api.offline_reading(ar, str(full)) == 3
    assert new_s0 == (full / "t3_s0.html").read_bytes()
    assert (out / "t3_s2.html").read_bytes() == \
        (full / "t3_s2.html").read_bytes()

    # submission-side edits must flip the fingerprint (ingest_jsonfile
    # is insert-only per the reference, so probe the fingerprint
    # function directly): title is a render field, a changed title is a
    # changed fp
    schema = ("idstr string, author string, title string, url string, "
              "selftext string, score long, created long, subreddit string")
    s_a = spark.createDataFrame(
        [("t3_x", "a", "title A", None, "body", 1, 9, "t")], schema)
    s_b = spark.createDataFrame(
        [("t3_x", "a", "title B", None, "body", 1, 9, "t")], schema)
    empty = spark.createDataFrame(
        [], "submission string, idstr string, parent string, created long, "
            "score long, author string, body string, subreddit string")
    [fa] = api._thread_fingerprints(s_a, empty).collect()
    [fb] = api._thread_fingerprints(s_b, empty).collect()
    assert fa["fp"] != fb["fp"]

    # guard: incremental + specific_submission would clobber the
    # manifest's other rows
    import pytest

    with pytest.raises(ValueError, match="specific_submission"):
        api.offline_reading(ar, str(out), specific_submission="s0",
                            incremental=True)


@pytest.mark.slow
def test_offline_reading_manifest_fingerprint_version(spark, tmp_path):
    """r14 (ADVICE): a manifest written under a different fingerprint
    ENCODING (or a pre-versioning one with no fpv column) makes every
    fp compare meaningless — the reader must treat ALL threads as
    changed (one-time full re-render, logged as such) instead of
    skipping pages on garbage comparisons; after that run the manifest
    carries the current version and incremental behavior resumes."""
    import shutil

    ar = api.Archive(spark, str(tmp_path / "ar"))
    p = tmp_path / "dump.jsonl"
    objs = [_sub(0), _sub(1)] + [_com(i) for i in range(3)]
    p.write_text("\n".join(json.dumps(o) for o in objs))
    api.ingest_jsonfile(ar, str(p))

    out = tmp_path / "threads"
    assert api.offline_reading(ar, str(out), incremental=True) == 2
    man = out / api.PAGE_MANIFEST
    written = spark.read.parquet(str(man))
    # materialize NOW: every later offline_reading swaps the manifest
    # files out from under this lazy frame's cached listing
    written_schema = written.schema
    written_pd = written.toPandas()
    assert set(written_pd.columns) == {"idstr", "fp", "fpv"}
    assert set(written_pd["fpv"]) == {api.FP_FORMAT_VERSION}
    assert api.offline_reading(ar, str(out), incremental=True) == 0

    # simulate an OLD-format manifest: same idstr/fp rows, stale fpv.
    # The fps are identical, but the version mismatch alone must force
    # a full re-render (and stale-delete detection still works: drop
    # one manifest row's thread from nothing — both pages re-render).
    stale_pd = written_pd.copy()
    stale_pd["fpv"] = api.FP_FORMAT_VERSION - 1
    shutil.rmtree(man)
    spark.createDataFrame(stale_pd, written_schema).write.parquet(str(man))
    # the manual rewrite reuses the path — drop Spark's cached listing
    spark.catalog.refreshByPath(str(man))
    assert api.offline_reading(ar, str(out), incremental=True) == 2

    # pre-versioning manifest (no fpv column at all) → same behavior
    import pyspark.sql.types as T

    unv_schema = T.StructType(
        [f for f in written_schema.fields if f.name != "fpv"])
    shutil.rmtree(man)
    spark.createDataFrame(
        stale_pd[["idstr", "fp"]], unv_schema
    ).write.parquet(str(man))
    spark.catalog.refreshByPath(str(man))
    assert api.offline_reading(ar, str(out), incremental=True) == 2
    # ... and the rewritten manifest restores normal incremental mode
    assert api.offline_reading(ar, str(out), incremental=True) == 0


@pytest.mark.slow
def test_offline_reading_auto_routes_mega_threads(spark, tmp_path):
    """r13: the DEFAULT export auto-routes per thread — threads at or
    under max_thread_rows take the fused assembler, over-bound threads
    take the streamed no-ceiling arm, one run, no error (r12 raised a
    loud ValueError instead), bytes identical to an all-streamed run
    AND to an unrouted fused run; --stream stays the forced override.
    Counter evidence: the writer spies see exactly the expected split."""
    ar = api.Archive(spark, str(tmp_path / "ar"))
    p = tmp_path / "dump.jsonl"
    # s0: 5 comments (over a bound of 3); s1: 2 comments; s2: none
    objs = [_sub(0), _sub(1), _sub(2)]
    objs += [_com(i) for i in range(3)]
    objs += [_com(5, parent_id="t1_c0", link_id="t3_s0"),
             _com(6, parent_id="t1_c1", link_id="t3_s0"),
             _com(7, parent_id="t3_s1", link_id="t3_s1"),
             _com(8, parent_id="t1_c7", link_id="t3_s1")]
    p.write_text("\n".join(json.dumps(o) for o in objs))
    api.ingest_jsonfile(ar, str(p))

    from timesearch_spark.operators import exports as _exports

    calls = {"fused": 0, "streamed": 0}
    orig_fused = _exports.write_thread_docs
    orig_streamed = _exports.write_thread_docs_streamed

    def spy_fused(*a, **kw):
        n = orig_fused(*a, **kw)
        calls["fused"] += n
        return n

    def spy_streamed(*a, **kw):
        n = orig_streamed(*a, **kw)
        calls["streamed"] += n
        return n

    out = tmp_path / "routed"
    _exports.write_thread_docs = spy_fused
    _exports.write_thread_docs_streamed = spy_streamed
    try:
        n = api.offline_reading(ar, str(out), max_thread_rows=3)
    finally:
        _exports.write_thread_docs = orig_fused
        _exports.write_thread_docs_streamed = orig_streamed
    assert n == 3
    # s0 (5 comments) streamed; s1 (2 comments) + s2 (0 comments) fused
    assert calls == {"fused": 2, "streamed": 1}

    # byte identity against both unrouted arms
    all_stream = tmp_path / "allstream"
    api.offline_reading(ar, str(all_stream), stream=True)
    unrouted = tmp_path / "unrouted"
    api.offline_reading(ar, str(unrouted))  # default bound: all fused
    for f in ("t3_s0.html", "t3_s1.html", "t3_s2.html"):
        b = (out / f).read_bytes()
        assert b == (all_stream / f).read_bytes(), f
        assert b == (unrouted / f).read_bytes(), f

    # the under-bound-only default stays the fused-only plan: no
    # streamed pages written when nothing is over the bound
    calls2 = {"fused": 0, "streamed": 0}

    def spy_f2(*a, **kw):
        n = orig_fused(*a, **kw)
        calls2["fused"] += n
        return n

    def spy_s2(*a, **kw):
        n = orig_streamed(*a, **kw)
        calls2["streamed"] += n
        return n

    out2 = tmp_path / "allsmall"
    _exports.write_thread_docs = spy_f2
    _exports.write_thread_docs_streamed = spy_s2
    try:
        assert api.offline_reading(ar, str(out2), max_thread_rows=100) == 3
    finally:
        _exports.write_thread_docs = orig_fused
        _exports.write_thread_docs_streamed = orig_streamed
    assert calls2 == {"fused": 3, "streamed": 0}


@pytest.mark.slow
def test_offline_reading_incremental_deletes_stale_pages(spark, tmp_path):
    """r13: a thread DELETED from the archive loses its page and its
    manifest row on the next incremental run, so the incremental file
    set converges to a from-scratch render's; a crash between the stale
    delete and the manifest swap (page already gone, old manifest still
    in place) converges on re-run; and the fingerprint pin is released
    even when the page write raises mid-export."""
    import pytest

    ar = api.Archive(spark, str(tmp_path / "ar"))
    p = tmp_path / "dump.jsonl"
    p.write_text("\n".join(json.dumps(o) for o in
                           [_sub(0), _sub(1), _com(0)]))
    api.ingest_jsonfile(ar, str(p))

    out = tmp_path / "threads"
    assert api.offline_reading(ar, str(out), incremental=True) == 2
    assert (out / "t3_s1.html").exists()

    # delete s1 from the archive; nothing ELSE changed, so the run
    # re-renders 0 pages but must still remove the stale page + row
    ar.submissions.overwrite_snapshot(
        ar.submissions.snapshot().filter("idstr <> 't3_s1'"))
    assert api.offline_reading(ar, str(out), incremental=True) == 0
    assert not (out / "t3_s1.html").exists()
    assert (out / "t3_s0.html").exists()
    man = {r["idstr"] for r in
           spark.read.parquet(str(out / api.PAGE_MANIFEST)).collect()}
    assert man == {"t3_s0"}
    # file-set convergence with a from-scratch render
    full = tmp_path / "full"
    api.offline_reading(ar, str(full))
    html = lambda d: {f for f in os.listdir(d) if f.endswith(".html")}  # noqa: E731
    assert html(out) == html(full)

    # crash-window convergence: reconstruct "deleted the page, died
    # before the swap" — stale manifest row present, page file absent —
    # then re-run: idempotent delete, manifest converges, no error
    import shutil

    shutil.rmtree(out)
    p2 = tmp_path / "ar2"
    ar2 = api.Archive(spark, str(p2))
    d2 = tmp_path / "dump2.jsonl"
    d2.write_text("\n".join(json.dumps(o) for o in [_sub(0), _sub(1)]))
    api.ingest_jsonfile(ar2, str(d2))
    assert api.offline_reading(ar2, str(out), incremental=True) == 2
    ar2.submissions.overwrite_snapshot(
        ar2.submissions.snapshot().filter("idstr <> 't3_s1'"))
    os.remove(out / "t3_s1.html")  # the "crashed after delete" state
    assert api.offline_reading(ar2, str(out), incremental=True) == 0
    man2 = {r["idstr"] for r in
            spark.read.parquet(str(out / api.PAGE_MANIFEST)).collect()}
    assert man2 == {"t3_s0"}

    # pin release on failure: a raising page write must not leak the
    # persisted fingerprint DataFrame for the session
    from timesearch_spark.operators import exports as _exports

    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    cache_mgr.clearCache()

    def boom(*a, **kw):
        raise RuntimeError("disk full")

    orig = _exports.write_thread_docs
    _exports.write_thread_docs = boom
    try:
        with pytest.raises(RuntimeError, match="disk full"):
            api.offline_reading(ar2, str(tmp_path / "t2"), incremental=True)
    finally:
        _exports.write_thread_docs = orig
    assert cache_mgr.isEmpty()


@pytest.mark.slow
def test_offline_reading_mass_rollback_deletes_distributed(
        spark, tmp_path, monkeypatch):
    """r14 (VERDICT r13 #2): a MASS rollback — thousands of manifest
    rows whose threads left the archive — must not collect idstrs to
    the driver or delete serially: the removal delta rides
    mapInPandas + pyarrow.fs (exports.delete_thread_pages_distributed)
    and the file set converges to a from-scratch render's; a forced
    failure of the distributed arm warns and falls back to the driver
    thread pool with the IDENTICAL file set."""
    import shutil

    import pandas as pd
    import pytest

    ar = api.Archive(spark, str(tmp_path / "ar"))
    p = tmp_path / "dump.jsonl"
    p.write_text("\n".join(json.dumps(o) for o in
                           [_sub(0), _sub(1), _com(0)]))
    api.ingest_jsonfile(ar, str(p))

    out = tmp_path / "threads"
    assert api.offline_reading(ar, str(out), incremental=True) == 2
    man = out / api.PAGE_MANIFEST
    real_pd = spark.read.parquet(str(man)).toPandas()
    real_schema = spark.read.parquet(str(man)).schema

    def plant_stale(n):
        """n fabricated pages + matching manifest rows (threads that a
        narrower re-ingest no longer contains)."""
        fakes = [f"t3_zz{i:05d}" for i in range(n)]
        for fid in fakes:
            (out / f"{fid}.html").write_text("stale page")
        fake_pd = pd.DataFrame({
            "idstr": fakes,
            "fp": [real_pd["fp"].iloc[0]] * n,
            "fpv": [api.FP_FORMAT_VERSION] * n,
        }).astype(real_pd.dtypes.to_dict())
        shutil.rmtree(man)
        spark.createDataFrame(
            pd.concat([real_pd, fake_pd], ignore_index=True), real_schema
        ).write.parquet(str(man))
        spark.catalog.refreshByPath(str(man))
        return set(fakes)

    html = lambda d: {f for f in os.listdir(d) if f.endswith(".html")}  # noqa: E731

    fakes = plant_stale(2000)
    assert fakes <= {f[:-5] for f in html(out)}
    # archive unchanged → 0 re-renders, but all 2000 stale pages and
    # their manifest rows must go — executor-side
    assert api.offline_reading(ar, str(out), incremental=True) == 0
    assert html(out) == {"t3_s0.html", "t3_s1.html"}
    rows = {r["idstr"] for r in spark.read.parquet(str(man)).collect()}
    assert rows == {"t3_s0", "t3_s1"}
    # byte-convergence with from-scratch
    full = tmp_path / "full"
    api.offline_reading(ar, str(full))
    for f in html(full):
        assert (out / f).read_bytes() == (full / f).read_bytes()

    # forced fallback: the distributed arm raises → warn + driver pool,
    # identical converged file set
    from timesearch_spark.operators import exports as _exports

    def boom(removed, out_dir):
        raise RuntimeError("no executor-side store access")

    monkeypatch.setattr(_exports, "delete_thread_pages_distributed", boom)
    plant_stale(500)
    with pytest.warns(UserWarning, match="falling back"):
        assert api.offline_reading(ar, str(out), incremental=True) == 0
    assert html(out) == {"t3_s0.html", "t3_s1.html"}


@pytest.mark.slow
def test_offline_reading_incremental_streamed_arm(spark, tmp_path):
    """incremental composes with stream=True: the delta routes through
    the fragment writer and produces the same bytes."""
    ar = api.Archive(spark, str(tmp_path / "ar"))
    p = tmp_path / "dump.jsonl"
    p.write_text("\n".join(json.dumps(o) for o in
                           [_sub(0), _com(0), _com(1)]))
    api.ingest_jsonfile(ar, str(p))

    out = tmp_path / "threads"
    assert api.offline_reading(ar, str(out), incremental=True,
                               stream=True) == 1
    assert api.offline_reading(ar, str(out), incremental=True,
                               stream=True) == 0
    p2 = tmp_path / "dump2.jsonl"
    p2.write_text(json.dumps(_com(5, parent_id="t1_c0", link_id="t3_s0")))
    api.ingest_jsonfile(ar, str(p2))
    assert api.offline_reading(ar, str(out), incremental=True,
                               stream=True) == 1
    full = tmp_path / "full"
    api.offline_reading(ar, str(full))
    assert (out / "t3_s0.html").read_bytes() == \
        (full / "t3_s0.html").read_bytes()


@pytest.mark.slow
def test_offline_reading_auto_derives_durable_checkpoint(spark, tmp_path,
                                                         monkeypatch):
    """r9 verdict item 4: a scheme:// archive auto-routes the mega-thread
    walk's lineage truncation to a RELIABLE checkpoint next to the store
    (localCheckpoint is cluster-unsafe: executor loss mid-loop fails the
    query); a plain local archive keeps the cheap localCheckpoint.
    Output identity between the two checkpoint modes is pinned
    separately (test_trees/test_dedup durable-checkpoint tests)."""
    captured = {}
    # the default page export receives the derived dir and hands it to
    # the mega-thread walk (render_thread_pages' fused pass has no
    # lineage to truncate and takes none)
    real = api._routed_page_export

    def capture(submissions, comments, out_dir, checkpoint_dir, **kw):
        captured["ck"] = checkpoint_dir
        return real(submissions, comments, out_dir,
                    checkpoint_dir=checkpoint_dir, **kw)

    monkeypatch.setattr(api, "_routed_page_export", capture)
    p = tmp_path / "dump.jsonl"
    objs = [_sub(0)] + [_com(i) for i in range(2)]
    p.write_text("\n".join(json.dumps(o) for o in objs))

    schemed = api.Archive(spark, f"file://{tmp_path}/ar_s")
    api.ingest_jsonfile(schemed, str(p))
    assert api.offline_reading(schemed, f"file://{tmp_path}/out_s") == 1
    assert captured["ck"] == f"file://{tmp_path}/ar_s/_checkpoints"

    local = api.Archive(spark, str(tmp_path / "ar_l"))
    api.ingest_jsonfile(local, str(p))
    assert api.offline_reading(local, str(tmp_path / "out_l")) == 1
    assert captured["ck"] is None
    # an explicit dir always wins over derivation
    api.offline_reading(schemed, f"file://{tmp_path}/out_s2",
                        checkpoint_dir=str(tmp_path / "ck"))
    assert captured["ck"] == str(tmp_path / "ck")


def test_thread_html_sink_never_iterates_on_driver(spark, tmp_path, monkeypatch):
    """VERDICT r4 item 6: the thread-doc sink must write from executors
    (mapInPandas), not serialize every document through a driver
    toLocalIterator loop — proven by making driver iteration explode."""
    from pyspark.sql import DataFrame

    from timesearch_spark.operators.exports import write_thread_docs

    def boom(self, *a, **kw):
        raise AssertionError("thread-doc sink iterated on the driver")

    # (the 1-row count aggregate legitimately collects; per-document
    # iteration is what must not happen)
    monkeypatch.setattr(DataFrame, "toLocalIterator", boom)
    docs = spark.createDataFrame(
        [("t3_a", "<div>x</div>\n<div>y</div>\n"), ("t3_b", "<div>z</div>\n")],
        "submission string, doc string",
    )
    out = str(tmp_path / "threads")
    assert write_thread_docs(docs, out) == 2
    assert sorted(os.listdir(out)) == ["t3_a.html", "t3_b.html"]
    assert "<div>x</div>\n<div>y</div>" in open(os.path.join(out, "t3_a.html")).read()


@pytest.mark.slow
def test_get_comments_augmented_aware_resume(spark, tmp_path):
    """The reference's specific-then-general scenario (get_comments.py:40-58):

    1. a specific-submission scan pulls a NEW thread's comments (ts ~500)
       and stamps submissions.augmented_at;
    2. a later general 'update' scan must NOT resume from 500 — the
       newest comment outside augmented threads is much older (ts 210),
       and general history between 210 and 500 would otherwise be lost.
    """
    ar = api.Archive(spark, str(tmp_path / "ar"))
    # seed: two submissions and two old general comments (ts 210, 211)
    p = tmp_path / "seed.jsonl"
    p.write_text(
        "\n".join(
            json.dumps(o)
            for o in [_sub(0), _sub(9), _com(10), _com(11)]
        )
    )
    api.ingest_jsonfile(ar, str(p))
    assert ar.comments.resume_lower_bound() == 210

    # 1. specific scan of thread t3_s9: new comments at ts 500/501
    thread = [
        _com(90, created_utc=500, parent_id="t3_s9", link_id="t3_s9"),
        _com(91, created_utc=501, parent_id="t3_s9", link_id="t3_s9"),
    ]
    api.get_comments(ar, _fetcher(thread), specific_submission="t3_s9",
                     observed_at=1000)
    row = ar.submissions.snapshot().filter("idstr = 't3_s9'").first()
    assert row["augmented_at"] == 1000
    assert row["title"] == "post 9"  # other columns untouched by the stamp
    assert ar.comments.snapshot().count() == 4

    # 2. naive bound would now be 500; augmented-aware bound stays at 210
    assert ar.comments.resume_lower_bound() == 500
    assert ar.comments.resume_lower_bound(
        augmented_submissions=ar.submissions.snapshot()
    ) == 210

    # a general update scan therefore re-reads from 210 and catches a
    # comment at ts 300 that a naive resume would have skipped
    gap = [_com(12, created_utc=300)]
    api.get_comments(ar, _fetcher(gap + thread), lower="update")
    bodies = {r["idstr"] for r in ar.comments.snapshot().collect()}
    assert "t1_c12" in bodies and len(bodies) == 5

    # 3. once ALL comments belong to augmented threads, fall back to the
    # plain latest (get_comments.py:55-58)
    ar2 = api.Archive(spark, str(tmp_path / "ar2"))
    p2 = tmp_path / "seed2.jsonl"
    p2.write_text(json.dumps(_sub(9)))
    api.ingest_jsonfile(ar2, str(p2))
    api.get_comments(ar2, _fetcher(thread), specific_submission="t3_s9")
    assert ar2.comments.resume_lower_bound(
        augmented_submissions=ar2.submissions.snapshot()
    ) == 500


def test_merge_db_insert_only(spark, tmp_path):
    a = api.Archive(spark, str(tmp_path / "a"))
    b = api.Archive(spark, str(tmp_path / "b"))
    pa = tmp_path / "a.jsonl"
    pa.write_text("\n".join(json.dumps(_sub(i)) for i in (0, 1)))
    pb = tmp_path / "b.jsonl"
    pb.write_text(
        "\n".join(json.dumps(_sub(i, title="OTHER")) for i in (1, 2))
    )
    api.ingest_jsonfile(a, str(pa))
    api.ingest_jsonfile(b, str(pb))

    gained = api.merge_db(a, b)
    assert gained["submissions"] == 1  # only s2 copied
    rows = {r["idstr"]: r["title"] for r in a.submissions.snapshot().collect()}
    assert rows["t3_s1"] == "post 1"  # existing row untouched (merge_db.py:7-12)
    assert rows["t3_s2"] == "OTHER"


def test_index_offline_links_resolve_to_rendered_threads(spark, tmp_path):
    """--offline listing links (../offline_reading/<id>.html,
    index.py:134-138) must point at files offline_reading actually
    writes — cross-sink consistency."""
    import re

    ar = api.Archive(spark, str(tmp_path / "ar"))
    p = tmp_path / "dump.jsonl"
    objs = [_sub(0), _sub(1), _com(0), _com(1, parent_id="t3_s1", link_id="t3_s1")]
    p.write_text("\n".join(json.dumps(o) for o in objs))
    api.ingest_jsonfile(ar, str(p))

    api.offline_reading(ar, str(tmp_path / "out" / "offline_reading"))
    idx = api.index(ar, str(tmp_path / "out" / "listing"), offline=True)
    links = re.findall(r"\(\.\./offline_reading/(t3_\w+\.html)\)", open(idx).read())
    assert len(links) == 2
    rendered = set(os.listdir(tmp_path / "out" / "offline_reading"))
    assert set(links) <= rendered


def test_sharded_index_concatenates_to_the_single_file_listing(spark, tmp_path):
    """Range-partitioned shards, concatenated in filename order, must
    equal the driver-written single file byte-for-byte (modulo the
    single file's trailing newline handling)."""
    from timesearch_spark.operators.exports import write_index_sharded

    ar = api.Archive(spark, str(tmp_path / "ar"))
    p = tmp_path / "dump.jsonl"
    p.write_text("\n".join(json.dumps(_sub(i, score=i)) for i in range(50)))
    api.ingest_jsonfile(ar, str(p))

    single = api.index(ar, str(tmp_path / "one"), orderby="score")
    shard_dir = write_index_sharded(
        ar.submissions.snapshot(), str(tmp_path / "many"), orderby="score"
    )
    parts = sorted(
        f for f in os.listdir(shard_dir) if f.startswith("part-")
    )
    assert len(parts) >= 1
    sharded = "".join(
        open(os.path.join(shard_dir, f)).read() for f in parts
    )
    assert sharded == open(single).read()

    # html contract: driver-written 00_header/zz_footer bracket the
    # shards so filename-order concatenation of ALL content files is the
    # byte-equal single html listing (not just the bare line divs)
    from timesearch_spark.operators.exports import write_index

    single_html = write_index(
        ar.submissions.snapshot(), str(tmp_path / "oneh"), "idx",
        orderby="score", html=True,
    )
    shard_html = write_index_sharded(
        ar.submissions.snapshot(), str(tmp_path / "manyh"),
        orderby="score", html=True,
    )
    content = sorted(
        f for f in os.listdir(shard_html)
        if f.startswith(("00_", "part-", "zz_"))
    )
    assert content[0] == "00_header.html" and content[-1] == "zz_footer.html"
    cat = "".join(
        open(os.path.join(shard_html, f)).read() for f in content
    )
    assert cat == open(single_html).read()
