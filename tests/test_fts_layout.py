"""Written FTS layout: probe equality with the in-plan index, pushdown
pruning in the probe plan, and the hybrid fetch's broadcast shape.

The round-2 regression lesson encoded as tests: the registered bm25 probes
must NOT contain a corpus tokenize/explode stage (that is the build plan,
paid once at write time), and the term filter must reach the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from duckdb_hybrid_doc_search_spark.index.catalog import load_table
from duckdb_hybrid_doc_search_spark.index.fingerprint import (
    content_fingerprint)
from duckdb_hybrid_doc_search_spark.index.fts_layout import (
    ensure_fts_layout, read_fts_layout, write_fts_layout)
from duckdb_hybrid_doc_search_spark.operators import bm25

QUERY = "spark vector join fast merge"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_layout_probe_equals_in_plan_index(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    idx = ensure_fts_layout(spark, docs, sf_dir, root=str(tmp_path))

    want = [(r.doc_id, r.score)
            for r in bm25.bm25_topk(docs, QUERY, 10).collect()]
    got = [(r.doc_id, r.score)
           for r in bm25.bm25_topk_from_index(idx, QUERY, 10).collect()]
    assert got == want


def test_probe_plan_is_pruned_scan_no_tokenize(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    idx = ensure_fts_layout(spark, docs, sf_dir, root=str(tmp_path))
    probe = bm25.bm25_topk_from_index(idx, QUERY, 10)
    plan = _plan(probe)
    # term IN (...) pushed into the postings parquet scan
    assert "PushedFilters" in plan and "In(term" in plan
    # no corpus tokenize stage: explode compiles to Generate — absent here
    assert "Generate" not in plan
    # denormalized postings_scored: the single-query probe is one pruned
    # scan + expression — no join operator of any kind in the plan
    assert "Join" not in plan
    # and the batch probe has the same properties
    bplan = _plan(bm25.bm25_batch_topk_from_index(idx, [QUERY, "hash scan"], 10))
    assert "In(term" in bplan and "Generate" not in bplan


def test_file_fingerprint_no_spark_jobs_and_tracks_mtime(spark, sf_dir,
                                                         tmp_path):
    import os
    import shutil

    from duckdb_hybrid_doc_search_spark.index.fingerprint import (
        source_file_fingerprint)

    docs = load_table(spark, sf_dir, "documents")
    # file-backed table -> stat-based fingerprint available (warm ensure
    # path pays no corpus scan)
    fp1 = source_file_fingerprint(docs)
    assert fp1 is not None
    # regenerated file (same content, new mtime) -> different key -> rebuild
    dst = tmp_path / "documents.parquet"
    src = os.path.join(sf_dir, "documents.parquet")
    if os.path.isdir(src):
        shutil.copytree(src, dst)
    else:
        shutil.copy(src, dst)
    copied = spark.read.parquet(str(dst))
    fpa = source_file_fingerprint(copied)
    os.utime(dst if os.path.isfile(dst) else next(dst.iterdir()))
    assert source_file_fingerprint(spark.read.parquet(str(dst))) != fpa
    # fileless plan -> None (ensure falls back to the content scan)
    mem = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    assert source_file_fingerprint(mem) is None


def test_layout_fingerprint_tracks_content(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    fp1 = content_fingerprint(docs, "doc_id", "text")
    fp2 = content_fingerprint(
        docs.withColumn("text", F.concat(F.col("text"), F.lit("x"))),
        "doc_id", "text",
    )
    assert fp1 != fp2  # same ids, same count, different text -> rebuild


def test_layout_reused_not_rebuilt(spark, sf_dir, tmp_path):
    import os

    docs = load_table(spark, sf_dir, "documents")
    ensure_fts_layout(spark, docs, sf_dir, root=str(tmp_path))
    dirs = sorted(os.listdir(tmp_path))
    mtime = os.path.getmtime(
        os.path.join(tmp_path, dirs[0], "corpus_stats", "_SUCCESS")
    )
    ensure_fts_layout(spark, docs, sf_dir, root=str(tmp_path))
    assert sorted(os.listdir(tmp_path)) == dirs
    assert os.path.getmtime(
        os.path.join(tmp_path, dirs[0], "corpus_stats", "_SUCCESS")
    ) == mtime


def test_hybrid_fetch_is_broadcast_join(spark, sf_dir, tmp_path):
    from duckdb_hybrid_doc_search_spark.search import engine

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    idx = ensure_fts_layout(spark, docs, sf_dir, root=str(tmp_path))
    df = engine.hybrid_search(docs, emb, QUERY, 10, index=idx)
    assert "BroadcastHashJoin" in _plan(df)


def test_write_read_roundtrip_tables(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "fts")
    write_fts_layout(docs, out)
    idx = read_fts_layout(spark, out)
    built = bm25.build_fts_index(docs)
    for t in ("postings", "docfreq", "docstats"):
        a = sorted(map(tuple, idx[t].collect()))
        b = sorted(map(tuple, built[t].collect()))
        assert a == b, t


def test_stale_sibling_layouts_garbage_collected(spark, sf_dir, tmp_path):
    import os

    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    ensure_fts_layout(spark, docs, sf_dir, root=str(tmp_path))
    live = sorted(os.listdir(tmp_path))
    # plant a stale sibling (same corpus prefix, different fingerprint)
    # and an unrelated layout that must survive
    stale = tmp_path / (live[0].rsplit("-", 1)[0] + "-deadbeef")
    stale.mkdir()
    other = tmp_path / "othersf-part-v2-cafe"
    other.mkdir()
    # rebuild trigger: same corpus re-read from a COPIED file (new
    # mtime -> new file fingerprint, the regenerated-testdata case)
    import shutil

    src = os.path.join(sf_dir, "documents.parquet")
    dst = tmp_path / "regen.parquet"
    (shutil.copytree if os.path.isdir(src) else shutil.copy)(src, dst)
    regen = spark.read.parquet(str(dst))
    ensure_fts_layout(spark, regen, sf_dir, root=str(tmp_path))
    after = set(os.listdir(tmp_path))
    assert stale.name not in after          # swept
    assert "othersf-part-v2-cafe" in after  # untouched
    assert live[0] not in after             # old fingerprint swept too


def test_warm_probe_fast_path_skips_thunk(spark, sf_dir, tmp_path):
    """Repeat thunk probes of an unchanged corpus must not construct the
    corpus DataFrame at all (the r4 bm25 bench regression: per-probe
    inputFiles()/read.parquet overhead) — and an in-place file touch must
    invalidate the stat memo and invoke the thunk again."""
    import os

    import shutil

    # a writable copy of the corpus (never touch /root/testdata)
    src = os.path.join(sf_dir, "documents.parquet")
    data_dir = tmp_path / "data"
    data_dir.mkdir()
    dst = str(data_dir / "documents.parquet")
    (shutil.copytree if os.path.isdir(src) else shutil.copy)(src, dst)
    layout_root = str(tmp_path / "layouts")

    calls = {"n": 0}

    def docs_thunk():
        calls["n"] += 1
        return spark.read.parquet(dst)

    idx1 = ensure_fts_layout(spark, docs_thunk, str(data_dir),
                             root=layout_root)
    assert calls["n"] == 1
    idx2 = ensure_fts_layout(spark, docs_thunk, str(data_dir),
                             root=layout_root)
    assert calls["n"] == 1          # warm probe: thunk never invoked
    assert idx2 is idx1             # same opened handle set
    # touch a source file: stat sig changes -> full path, thunk re-invoked
    victim = dst
    if os.path.isdir(dst):
        victim = next(
            os.path.join(dst, f) for f in sorted(os.listdir(dst))
            if f.endswith(".parquet")
        )
    st = os.stat(victim)
    os.utime(victim, ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    ensure_fts_layout(spark, docs_thunk, str(data_dir), root=layout_root)
    assert calls["n"] == 2


def test_deleted_layout_rebuilt_not_served_stale(spark, sf_dir, tmp_path):
    """A layout deleted under a live session is rebuilt by the next
    ensure call, thunk or DataFrame form, and probes the same rows: the
    opened-layout memo must not hand out handles to files that are
    gone."""
    import os
    import shutil

    docs = load_table(spark, sf_dir, "documents")
    root = str(tmp_path / "layouts")

    def probe(idx):
        return [tuple(r) for r in
                bm25.bm25_topk_terms(idx, ["the"], 3).collect()]

    want = probe(ensure_fts_layout(spark, lambda: docs, sf_dir, root=root))
    assert len(want) == 3
    (key,) = os.listdir(root)
    for form in (lambda: docs, docs):
        shutil.rmtree(os.path.join(root, key))
        idx = ensure_fts_layout(spark, form, sf_dir, root=root)
        assert os.listdir(root) == [key]
        assert os.path.exists(
            os.path.join(root, key, "corpus_stats", "_SUCCESS"))
        assert probe(idx) == want


# --- segmented (append-able) FTS store ---------------------------------------


def _seg_probe(spark, seg_dir, query, k):
    from duckdb_hybrid_doc_search_spark.operators.bm25 import (
        bm25_topk_from_index, segment_fts_index)

    return bm25_topk_from_index(segment_fts_index(spark, seg_dir), query, k)


def test_segment_store_equals_one_shot_index(spark, sf_dir, tmp_path):
    """base segment + appended segment == one-shot in-plan index, score
    for score (per-doc tokenization is deterministic; global stats are
    exact-integer delta sums)."""
    from pyspark.sql import functions as F

    from duckdb_hybrid_doc_search_spark.index.fts_layout import (
        append_fts_segment, write_fts_segments)
    from duckdb_hybrid_doc_search_spark.operators.bm25 import bm25_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    split = F.col("doc_id") % 7 == 3
    out = str(tmp_path / "seg")
    write_fts_segments(docs.where(~split), out)
    append_fts_segment(spark, out, docs.where(split))
    query = "spark vector join fast merge"
    got = [tuple(r) for r in _seg_probe(spark, out, query, 10).collect()]
    want = [tuple(r) for r in bm25_topk(docs, query, 10).collect()]
    assert got == want


def test_segment_append_refusals(spark, sf_dir, tmp_path):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from duckdb_hybrid_doc_search_spark.index.fts_layout import (
        append_fts_segment, write_fts_segments)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with _pytest.raises(ValueError, match="no completed segmented"):
        append_fts_segment(spark, str(tmp_path / "nope"), docs.limit(2))
    out = str(tmp_path / "seg")
    split = F.col("doc_id") % 7 == 3
    write_fts_segments(docs.where(~split), out)
    with _pytest.raises(ValueError, match="overlaps the FTS store"):
        append_fts_segment(spark, out, docs.where(~split).limit(2))


def test_segment_crash_sweep(spark, sf_dir, tmp_path):
    """A crashed append (segstats tier never landed) is swept by the
    next append; the store then equals base + the second segment only."""
    import glob
    import os

    from pyspark.sql import functions as F

    from duckdb_hybrid_doc_search_spark.index.fts_layout import (
        append_fts_segment, write_fts_segments)
    from duckdb_hybrid_doc_search_spark.operators.bm25 import bm25_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mod7 = F.col("doc_id") % 7
    out = str(tmp_path / "seg")
    write_fts_segments(docs.where(~mod7.isin(3, 5)), out)
    append_fts_segment(spark, out, docs.where(mod7 == 3))
    for f in glob.glob(os.path.join(out, "segstats", "append-*")):
        os.remove(f)  # crash window: segstats never landed
    append_fts_segment(spark, out, docs.where(mod7 == 5))
    query = "spark vector join fast merge"
    got = [tuple(r) for r in _seg_probe(spark, out, query, 10).collect()]
    want = [tuple(r) for r in
            bm25_topk(docs.where(mod7 != 3), query, 10).collect()]
    assert got == want


def test_segment_probe_plan_prunes_terms(spark, sf_dir, tmp_path):
    """The segmented probe keeps the one-shot layout's scan economics:
    In(term) pushed to BOTH the postings and docfreq parquet scans, and
    the top-k stays TakeOrderedAndProject."""
    from pyspark.sql import functions as F

    from duckdb_hybrid_doc_search_spark.index.fts_layout import (
        append_fts_segment, write_fts_segments)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    split = F.col("doc_id") % 7 == 3
    out = str(tmp_path / "seg")
    write_fts_segments(docs.where(~split), out)
    append_fts_segment(spark, out, docs.where(split))
    probe = _seg_probe(spark, out, "spark vector join fast merge", 10)
    plan = probe._jdf.queryExecution().executedPlan().toString().replace(
        "`", "")
    assert plan.count("PushedFilters: [In(term") >= 2, \
        "term pushdown must reach postings AND docfreq scans"
    assert "TakeOrderedAndProject" in plan


# --- segment fold (compaction) ------------------------------------------------


def test_fold_after_many_appends_equals_one_shot(spark, sf_dir, tmp_path):
    """build -> append x15 -> fold -> probe hash-matches the one-shot
    index (fold-invariant scoring), and the folded store is actually
    compact: one docfreq row per term, one segstats row, no append-*
    files left, and the fold-time postings_scored table present."""
    import glob
    import os

    from pyspark.sql import functions as F

    from duckdb_hybrid_doc_search_spark.index.fts_layout import (
        SEG_SCORED, append_fts_segment, fold_fts_segments,
        write_fts_segments)
    from duckdb_hybrid_doc_search_spark.operators.bm25 import bm25_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mod16 = F.col("doc_id") % 16
    out = str(tmp_path / "seg")
    write_fts_segments(docs.where(mod16 == 0), out)
    for i in range(1, 16):
        append_fts_segment(spark, out, docs.where(mod16 == i))
    fold_fts_segments(spark, out)

    query = "spark vector join fast merge"
    got = [tuple(r) for r in _seg_probe(spark, out, query, 10).collect()]
    want = [tuple(r) for r in bm25_topk(docs, query, 10).collect()]
    assert got == want

    assert os.path.exists(os.path.join(out, SEG_SCORED))
    for table in ("postings", "docfreq", "docstats", "segstats"):
        assert not glob.glob(os.path.join(out, table, "append-*")), table
    df = spark.read.parquet(os.path.join(out, "docfreq"))
    assert df.count() == df.select("term").distinct().count()
    assert spark.read.parquet(os.path.join(out, "segstats")).count() == 1


def test_folded_probe_plan_is_joinfree_scored_scan(spark, sf_dir,
                                                   tmp_path):
    """A folded store's probe takes the one-shot layout's impact-list
    path: ONE term-pruned parquet scan (postings_scored), no docfreq /
    docstats joins in the plan, top-k as TakeOrderedAndProject — the r9
    VERDICT #7 'can the folded probe reuse the join-free form' answer."""
    from pyspark.sql import functions as F

    from duckdb_hybrid_doc_search_spark.index.fts_layout import (
        append_fts_segment, fold_fts_segments, write_fts_segments)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    split = F.col("doc_id") % 7 == 3
    out = str(tmp_path / "seg")
    write_fts_segments(docs.where(~split), out)
    append_fts_segment(spark, out, docs.where(split))
    fold_fts_segments(spark, out)
    probe = _seg_probe(spark, out, "spark vector join fast merge", 10)
    plan = probe._jdf.queryExecution().executedPlan().toString().replace(
        "`", "")
    assert plan.count("PushedFilters: [In(term") == 1, \
        "folded probe must be ONE term-pruned scan (postings_scored)"
    assert "docfreq" not in plan and "docstats" not in plan
    assert "TakeOrderedAndProject" in plan


def test_append_after_fold_invalidates_scored_table(spark, sf_dir,
                                                    tmp_path):
    """An append lands after a fold: the fold-time postings_scored table
    must be dropped (its df/n_docs/avgdl are stale for EVERY row) and
    the delta-path probe must score the grown corpus exactly."""
    import os

    from pyspark.sql import functions as F

    from duckdb_hybrid_doc_search_spark.index.fts_layout import (
        SEG_SCORED, append_fts_segment, fold_fts_segments,
        write_fts_segments)
    from duckdb_hybrid_doc_search_spark.operators.bm25 import bm25_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mod7 = F.col("doc_id") % 7
    out = str(tmp_path / "seg")
    write_fts_segments(docs.where(~mod7.isin(3, 5)), out)
    append_fts_segment(spark, out, docs.where(mod7 == 3))
    fold_fts_segments(spark, out)
    assert os.path.exists(os.path.join(out, SEG_SCORED))
    append_fts_segment(spark, out, docs.where(mod7 == 5))
    assert not os.path.exists(os.path.join(out, SEG_SCORED))
    query = "spark vector join fast merge"
    got = [tuple(r) for r in _seg_probe(spark, out, query, 10).collect()]
    want = [tuple(r) for r in bm25_topk(docs, query, 10).collect()]
    assert got == want


def test_fold_crash_rolls_forward(spark, sf_dir, tmp_path, monkeypatch):
    """A fold that crashes AFTER its FOLD_READY marker lands (stage fully
    written, swap not run) leaves a store that refuses reads, and the
    next writer — here an append — completes the swap before doing its
    own work; the final probe equals a one-shot index over everything."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    import duckdb_hybrid_doc_search_spark.index.fts_layout as fl
    from duckdb_hybrid_doc_search_spark.operators.bm25 import (
        bm25_topk, segment_fts_index)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mod7 = F.col("doc_id") % 7
    out = str(tmp_path / "seg")
    fl.write_fts_segments(docs.where(~mod7.isin(3, 5)), out)
    fl.append_fts_segment(spark, out, docs.where(mod7 == 3))

    real = fl.complete_fold

    def crash_at_swap(out_dir):
        if os.path.exists(os.path.join(out_dir, fl.FOLD_READY)):
            raise RuntimeError("simulated crash before the swap")
        return real(out_dir)

    monkeypatch.setattr(fl, "complete_fold", crash_at_swap)
    with _pytest.raises(RuntimeError, match="simulated crash"):
        fl.fold_fts_segments(spark, out)
    monkeypatch.setattr(fl, "complete_fold", real)

    # crashed state: marker present, lock released -> readers refuse
    assert os.path.exists(os.path.join(out, fl.FOLD_READY))
    with _pytest.raises(RuntimeError, match="fold swap in flight"):
        segment_fts_index(spark, out)

    # the next writer rolls the swap forward, then appends
    fl.append_fts_segment(spark, out, docs.where(mod7 == 5))
    assert not os.path.exists(os.path.join(out, fl.FOLD_READY))
    query = "spark vector join fast merge"
    got = [tuple(r) for r in _seg_probe(spark, out, query, 10).collect()]
    want = [tuple(r) for r in bm25_topk(docs, query, 10).collect()]
    assert got == want
