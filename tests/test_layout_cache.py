"""The written-layout cache (index/fingerprint.ensure_layout): build once
per fingerprint, rebuild a crashed attempt, and the directory names of
every public ensure_* site — the names are what keeps existing
spark-warehouse caches valid across code changes."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from duckdb_hybrid_doc_search_spark.index import fingerprint
from duckdb_hybrid_doc_search_spark.index.fingerprint import (
    ensure_layout, layout_fingerprint, layout_name, sweep_siblings)

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "duckdb_hybrid_doc_search_spark")


def _touch(path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w"):
        pass


def _counting_build(calls: list):
    def build(out_dir: str) -> None:
        calls.append(out_dir)
        _touch(os.path.join(out_dir, "data", "part-0"))
    return build


def test_warm_call_does_not_build(tmp_path):
    calls: list = []
    root = str(tmp_path)
    out = ensure_layout("x", "/data/sf1", "v1", "fp0", _counting_build(calls),
                        "_DONE", root)
    marker = os.path.join(out, "_DONE")
    mtime = os.stat(marker).st_mtime_ns
    assert ensure_layout("x", "/data/sf1", "v1", "fp0",
                         _counting_build(calls), "_DONE", root) == out
    assert calls == [out]
    assert os.stat(marker).st_mtime_ns == mtime


def test_crashed_attempt_is_cleaned_and_built_once(tmp_path):
    root = str(tmp_path)
    out = os.path.join(root, "sf1-v1-fp0")
    stray = os.path.join(out, "stray.parquet")
    _touch(stray)                      # a crashed attempt: no marker
    calls: list = []
    assert ensure_layout("x", "/data/sf1", "v1", "fp0",
                         _counting_build(calls), "_DONE", root) == out
    assert calls == [out]
    assert not os.path.exists(stray)
    assert os.path.exists(os.path.join(out, "_DONE"))


def test_build_that_raises_leaves_no_marker(tmp_path):
    root = str(tmp_path)

    def failing(out_dir: str) -> None:
        _touch(os.path.join(out_dir, "half"))
        raise RuntimeError("writer died")

    with pytest.raises(RuntimeError):
        ensure_layout("x", "/data/sf1", "v1", "fp0", failing,
                      os.path.join("stats", "_SUCCESS"), root)
    out = os.path.join(root, "sf1-v1-fp0")
    assert not os.path.exists(os.path.join(out, "stats", "_SUCCESS"))
    calls: list = []
    ensure_layout("x", "/data/sf1", "v1", "fp0", _counting_build(calls),
                  os.path.join("stats", "_SUCCESS"), root)
    assert calls == [out]
    assert not os.path.exists(os.path.join(out, "half"))
    assert os.path.exists(os.path.join(out, "stats", "_SUCCESS"))


def test_layout_name_and_warehouse_root(tmp_path):
    assert layout_name("/data/sf0.01/", "v3-p2", "fabc") == "sf0.01-v3-p2-fabc"
    assert layout_name("/", "v1", "c5-ff") == "default-v1-c5-ff"
    out = ensure_layout("ivf_layout", "/", "v3", "f0", lambda d: None,
                        "_LAYOUT_DONE", str(tmp_path))
    assert out == os.path.join(str(tmp_path), "default-v3-f0")
    assert fingerprint.warehouse_root("ivf_layout").endswith(
        os.path.join("spark-warehouse", "ivf_layout"))


def test_sweep_siblings_matches_pattern_only(tmp_path):
    for name in ("sf1-kind-new", "sf1-kind-old", "sf1-kind2-x", "sf2-kind-y"):
        (tmp_path / name).mkdir()
    sweep_siblings(str(tmp_path / "sf1-kind-new"), r"sf1\-kind\-")
    assert sorted(os.listdir(tmp_path)) == [
        "sf1-kind-new", "sf1-kind2-x", "sf2-kind-y"]


def test_no_layout_name_or_warehouse_root_outside_fingerprint():
    """Only index/fingerprint.py names a layout directory or derives the
    warehouse root: a second copy could drift from the first."""
    offenders = []
    for root, _, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            if os.path.relpath(path, PKG) == os.path.join("index",
                                                          "fingerprint.py"):
                continue
            with open(path, encoding="utf-8") as f:
                src = f.read()
            if ("basename(os.path.normpath(" in src
                    or '"spark-warehouse"' in src):
                offenders.append(os.path.relpath(path, PKG))
    assert not offenders, f"layout name/root outside fingerprint: {offenders}"


# --- directory names of the public ensure_* sites ----------------------------


def _fake_writer(marker: str):
    def write(df, out_dir, *args, **kwargs):
        _touch(os.path.join(out_dir, marker))
    return write


def _noop(*args, **kwargs):
    return None


def _site_cases():
    from duckdb_hybrid_doc_search_spark.index import (bpe_layout,
                                                      dedup_layout,
                                                      fts_layout,
                                                      ivf_layout,
                                                      ivfpq_layout,
                                                      sq8_layout)
    from duckdb_hybrid_doc_search_spark.operators import bpe
    from duckdb_hybrid_doc_search_spark.streaming import index_maintenance

    class _NoMerges:
        def collect(self):
            return []

    def ivf_stream_writer(emb, out_dir, nlist=None, **kwargs):
        _touch(os.path.join(out_dir, ivf_layout.LAYOUT_DONE))
        ivf_layout.write_layout_meta(out_dir, nlist)

    fts_done = os.path.join("corpus_stats", "_SUCCESS")
    ivf = _fake_writer("_LAYOUT_DONE")
    ivf_patch = [(ivf_layout, "write_ivf_partitioned", ivf)]
    mp_patch = [(ivf_layout, "write_ivf_multiprobe", ivf)]
    seg_patch = [(fts_layout, "write_fts_segments", _fake_writer("_SEG_DONE")),
                 (fts_layout, "append_fts_segment", _noop)]
    # (id, call, leaf, tag, corpus, done, patches)
    return [
        ("ivf", lambda s, d, docs, emb: ivf_layout.ensure_ivf_layout(
            s, emb, d), "ivf_layout", "v3", "emb", "_LAYOUT_DONE", ivf_patch),
        ("ivf_trained", lambda s, d, docs, emb:
            ivf_layout.ensure_ivf_trained_layout(s, emb, d),
         "ivf_trained_layout", "v3-kmeans", "emb", "_LAYOUT_DONE",
         ivf_patch),
        ("ivf_multiprobe", lambda s, d, docs, emb:
            ivf_layout.ensure_ivf_multiprobe_layout(s, emb, d, p=2),
         "ivf_multiprobe_layout", "v3-p2", "emb", "_LAYOUT_DONE", mp_patch),
        ("ivf_multiprobe_whitened", lambda s, d, docs, emb:
            ivf_layout.ensure_ivf_multiprobe_whitened_layout(s, emb, d, p=2),
         "ivf_multiprobe_whitened_layout", "v3-p2", "emb", "_LAYOUT_DONE",
         mp_patch),
        ("ivf_multiprobe_append", lambda s, d, docs, emb:
            ivf_layout.ensure_ivf_multiprobe_append_layout(s, emb, d, p=2),
         "ivf_multiprobe_append_layout", "v3-p2", "emb", "_APPEND_DONE",
         mp_patch + [(ivf_layout, "append_multiprobe_vectors", _noop)]),
        ("ivf_append", lambda s, d, docs, emb:
            ivf_layout.ensure_ivf_append_layout(s, emb, d),
         "ivf_append_layout", "v3", "emb", "_APPEND_DONE",
         ivf_patch + [(ivf_layout, "append_ivf_vectors", _noop)]),
        ("ivfpq", lambda s, d, docs, emb:
            ivfpq_layout.ensure_ivfpq_layout(s, emb, d),
         "ivfpq_layout", "v4", "emb", "_LAYOUT_DONE",
         [(ivfpq_layout, "write_ivfpq_layout", ivf)]),
        ("ivfpq_append", lambda s, d, docs, emb:
            ivfpq_layout.ensure_ivfpq_append_layout(s, emb, d),
         "ivfpq_append_layout", "v4", "emb", "_APPEND_DONE",
         [(ivfpq_layout, "write_ivfpq_layout", ivf),
          (ivfpq_layout, "append_ivfpq_vectors", _noop)]),
        ("sq8", lambda s, d, docs, emb: sq8_layout.ensure_sq8_layout(
            s, emb, d), "sq8_layout", "v1", "emb", "_LAYOUT_DONE",
         [(sq8_layout, "write_sq8_layout", ivf)]),
        ("dedup", lambda s, d, docs, emb: dedup_layout.ensure_dedup_layout(
            s, docs, d), "dedup_sig_layout", "v1", "docs", "_LAYOUT_DONE",
         [(dedup_layout, "write_dedup_signatures", ivf)]),
        ("dedup_append", lambda s, d, docs, emb:
            dedup_layout.ensure_dedup_append_layout(s, docs, d),
         "dedup_sig_append_layout", "v1", "docs", "_APPEND_DONE",
         [(dedup_layout, "write_dedup_signatures", ivf),
          (dedup_layout, "append_dedup_signatures", _noop)]),
        ("bpe", lambda s, d, docs, emb: bpe_layout.ensure_bpe_layout(
            s, docs, d, n_merges=16), "bpe_layout", "bpe16", "docs",
         "_BPE_DONE",
         [(bpe_layout, "write_bpe_merges", _fake_writer("_BPE_DONE"))]),
        ("bpe_fts", lambda s, d, docs, emb: bpe_layout.ensure_bpe_fts_layout(
            s, docs, d, n_merges=16), "bpe_fts_layout", "bpefts16", "docs",
         fts_done,
         [(bpe_layout, "write_bpe_merges", _fake_writer("_BPE_DONE")),
          (bpe_layout, "read_bpe_merges", lambda s, d: []),
          (bpe, "bpe_fts_index", lambda docs, merges: {}),
          (fts_layout, "write_index_tables", _fake_writer(fts_done)),
          (fts_layout, "read_fts_layout", lambda s, d: {})]),
        ("bpe_segment", lambda s, d, docs, emb:
            bpe_layout.ensure_bpe_segment_layout(s, docs, d, n_merges=16),
         "bpe_segment_layout", "bpeseg16", "docs", "_BPESEG_DONE",
         seg_patch + [(bpe_layout, "bpe_train",
                       lambda *a, **k: _NoMerges()),
                      (bpe_layout, "write_store_merges", _noop)]),
        ("fts", lambda s, d, docs, emb: fts_layout.ensure_fts_layout(
            s, docs, d), "fts_layout", "documents-v2", "docs", fts_done,
         [(fts_layout, "write_fts_layout", _fake_writer(fts_done)),
          (fts_layout, "read_fts_layout", lambda s, d: {})]),
        ("fts_segment", lambda s, d, docs, emb:
            fts_layout.ensure_fts_segment_layout(s, docs, d),
         "fts_segment_layout", "seg-v2", "docs", "_SEG_APPEND_DONE",
         seg_patch),
        ("fts_folded", lambda s, d, docs, emb:
            fts_layout.ensure_fts_folded_layout(s, docs, d),
         "fts_folded_layout", "fold-v2", "docs", "_SEG_FOLD_DONE",
         seg_patch + [(fts_layout, "fold_fts_segments", _noop)]),
        ("fts_base_store", lambda s, d, docs, emb:
            index_maintenance.ensure_fts_base_store(s, docs, F.lit(True), d),
         "fts_segment_layout", "segbase-v2-sc8871a8c29a5", "docs",
         "_SEG_DONE", seg_patch),
        ("ivf_stream_base", lambda s, d, docs, emb:
            index_maintenance.ensure_ivf_stream_base(s, d)[0],
         "ivf_stream_base", "ivfstreambase-v3", "emb", "_LAYOUT_DONE",
         [(ivf_layout, "write_ivf_partitioned", ivf_stream_writer)]),
    ]


_SITE_IDS = [c[0] for c in _site_cases()]


@pytest.mark.parametrize("case_id", _SITE_IDS)
def test_ensure_site_directory_names(spark, sf_dir, tmp_path, monkeypatch,
                                     case_id):
    """Each public ensure_* writes `<leaf>/<sf>-<tag>-<fp>` with its done
    marker (writers faked: only the name and the marker are under test)."""
    from duckdb_hybrid_doc_search_spark.index.catalog import load_table

    (_, call, leaf, tag, corpus, done, patches), = [
        c for c in _site_cases() if c[0] == case_id]
    for module, attr, fake in patches:
        monkeypatch.setattr(module, attr, fake)
    wh = str(tmp_path / "wh")
    monkeypatch.setattr(
        fingerprint, "warehouse_root",
        lambda lf, root=None: root or os.path.join(wh, lf))
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    fp = (layout_fingerprint(emb, "vec_id", "embedding") if corpus == "emb"
          else layout_fingerprint(docs, "doc_id", "text"))
    sf = os.path.basename(sf_dir.rstrip("/"))
    call(spark, sf_dir, docs, emb)
    out = os.path.join(wh, leaf, f"{sf}-{tag}-{fp}")
    assert os.path.exists(os.path.join(out, done)), os.listdir(
        os.path.join(wh, leaf))


def test_orc_and_layout_metric_directory_names(spark, sf_dir, tmp_path,
                                               monkeypatch):
    """The ORC copy and the four layout-metric scratch tables, built for
    real (no writer to fake) under a temporary warehouse."""
    from duckdb_hybrid_doc_search_spark.index.catalog import load_table
    from duckdb_hybrid_doc_search_spark.plans import layout_queries as lq
    from duckdb_hybrid_doc_search_spark.sources.orcsrc import (
        ensure_orc_documents)

    wh = str(tmp_path / "wh")
    monkeypatch.setattr(
        fingerprint, "warehouse_root",
        lambda lf, root=None: root or os.path.join(wh, lf))
    sf = os.path.basename(sf_dir.rstrip("/"))
    st = os.stat(os.path.join(sf_dir, "documents.parquet"))
    assert ensure_orc_documents(spark, sf_dir) == os.path.join(
        wh, "orc_docs", f"{sf}-documents-v1-{st.st_mtime_ns}-{st.st_size}")

    lq.lineitem_zorder_prune_stats(spark, sf_dir).collect()
    lq.corpus_write_shards(spark, sf_dir).collect()
    lq.orders_partition_prune_stats(spark, sf_dir).collect()
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity")
    lfp = layout_fingerprint(li, "l_partkey", "l_suppkey")
    dfp = layout_fingerprint(load_table(spark, sf_dir, "documents"),
                             "doc_id", "text")
    ofp = layout_fingerprint(load_table(spark, sf_dir, "orders"),
                             "o_orderkey")
    metrics = os.path.join(wh, "layout_metrics")
    for name in (f"{sf}-zorderd-{lfp}", f"{sf}-sortbd-{lfp}",
                 f"{sf}-shards-{dfp}", f"{sf}-opart1-{ofp}"):
        assert os.path.exists(os.path.join(metrics, name, "_SUCCESS")), name


def test_base_store_key_carries_the_slice(spark, sf_dir, tmp_path,
                                          monkeypatch):
    """A base store built over the whole corpus does not stand in for
    the registered append loop's slice (doc_id % 7 != 3) in the same
    warehouse: the slice predicate is part of the key, so the loop
    builds its own base and its probe still equals the oracle."""
    from duckdb_hybrid_doc_search_spark.index.catalog import load_table
    from duckdb_hybrid_doc_search_spark.plans import registry
    from duckdb_hybrid_doc_search_spark.streaming.index_maintenance import (
        ensure_fts_base_store)

    from .oracle_harness import compare

    wh = str(tmp_path / "wh")
    monkeypatch.setattr(
        fingerprint, "warehouse_root",
        lambda lf, root=None: root or os.path.join(wh, lf))
    docs = load_table(spark, sf_dir, "documents")
    full = ensure_fts_base_store(spark, docs, F.lit(True), sf_dir)
    registry._load_all()
    q = registry.REGISTRY["streaming_fts_segment_append"]
    compare(spark, sf_dir, q.spark_fn, q.oracle)
    stores = os.listdir(os.path.dirname(full))
    assert len(stores) == 2 and os.path.basename(full) in stores
