"""IVF partitioned layout: pruned scan + result equality with the
query-time IVF operator."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from duckdb_hybrid_doc_search_spark.config import SCORE_ROUND
from duckdb_hybrid_doc_search_spark.functions import vector as V
from duckdb_hybrid_doc_search_spark.index.catalog import load_table
from duckdb_hybrid_doc_search_spark.index.ivf_layout import (
    ivf_partitioned_topk, probe_cells, write_ivf_partitioned)
from duckdb_hybrid_doc_search_spark.operators.knn import (
    assign_to_centroids, dd_ivf_topk_sql, ivf_topk)


def _rows(df_or_rows):
    """Sorted tuples, floats as the oracle hash renders them."""
    rows = df_or_rows.collect() if hasattr(df_or_rows, "collect") \
        else df_or_rows
    return sorted(tuple(round(v, 9) if isinstance(v, float) else v
                        for v in r) for r in rows)


def test_ivf_partition_pruning_and_equality(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings")
    out = str(tmp_path / "ivf")
    write_ivf_partitioned(emb, out)

    # pruning is visible in the scan plan
    probe = probe_cells(spark, out, [0, 50])
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan

    # and the partitioned probe returns exactly the query-time IVF result
    want = sorted(
        (r.q_id, r.c_id, r.cos_sim, r.rank)
        for r in ivf_topk(emb, 5, 10).collect()
    )
    got = sorted(
        (r.q_id, r.c_id, r.cos_sim, r.rank)
        for r in ivf_partitioned_topk(spark, out, emb, 5, 10).collect()
    )
    assert got == want
    # both share the probe, so check them against the independent
    # DuckDB oracle too
    con = duckdb.connect()
    con.execute("CREATE VIEW embeddings AS SELECT * FROM read_parquet("
                f"'{sf_dir}/embeddings.parquet')")
    oracle = _rows(con.execute(dd_ivf_topk_sql(5, 10)).fetchall())
    assert len(oracle) == 50 and _rows(want) == oracle


def _duck(rows):
    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings (vec_id BIGINT, embedding FLOAT[])")
    con.executemany("INSERT INTO embeddings VALUES (?, ?)", rows)
    return con


@pytest.mark.parametrize("p", [1, 2])
def test_zero_norm_centroid_ranks_last_in_assignment(spark, p):
    """A zero-norm centroid's cosine is NaN/NULL and ranks last, as the
    oracles' ``row_number`` orders it; np.argmax (the first NaN) once
    sent every vector to it."""
    vecs = [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0])]
    cents = [(10, [0.0, 0.0]), (11, [1.0, 0.0]), (12, [0.0, 1.0])]
    got = _rows(assign_to_centroids(
        spark.createDataFrame(vecs, "c_id long, c_vec array<float>"),
        spark.createDataFrame(cents, "cent_id long, cvec array<float>"),
        p=p))
    con = _duck(vecs)
    con.execute("CREATE TABLE cent (cent_id BIGINT, cvec FLOAT[])")
    con.executemany("INSERT INTO cent VALUES (?, ?)", cents)
    csim = V.dd_cosine_similarity("e.embedding", "c.cvec")
    want = _rows(con.execute(f"""
SELECT c_id, cell FROM (
  SELECT e.vec_id AS c_id, c.cent_id AS cell,
         row_number() OVER (PARTITION BY e.vec_id
           ORDER BY round({csim}, {SCORE_ROUND}) DESC, c.cent_id ASC) AS rn
  FROM embeddings e CROSS JOIN cent c
) WHERE rn <= {p}""").fetchall())
    assert got == want
    assert want == ([(0, 11), (1, 11), (2, 12)] if p == 1 else
                    [(0, 11), (0, 12), (1, 11), (1, 12), (2, 11), (2, 12)])


def test_zero_norm_centroid_ivf_topk_matches_oracle(spark):
    """ivf_topk over a table whose sampled centroid 0 has a zero norm
    (ids 0, 50 and 100 are the centroid slots), queries 0..5 (query 0 is
    that zero vector): the rows the DuckDB oracle gives."""
    rows = [(0, [0.0, 0.0]), (50, [1.0, 0.0]), (100, [0.0, 1.0]),
            (1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0]),
            (4, [0.3, 0.7]), (5, [0.6, 0.4])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = _rows(ivf_topk(emb, 3, 6))
    want = _rows(_duck(rows).execute(dd_ivf_topk_sql(3, 6)).fetchall())
    assert got == want
    assert {(1, 1, 1.0, 1), (1, 50, 1.0, 2), (0, 0, None, 1)} <= set(want)


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    """Measured recall of the IVF probe against the exact scan — the
    approximation is a number, not a hope (SURVEY.md §4.1)."""
    from duckdb_hybrid_doc_search_spark.operators.knn import knn_join

    emb = load_table(spark, sf_dir, "embeddings")
    k, nq = 5, 10
    queries = emb.where(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = emb.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    exact = {}
    for r in knn_join(queries, corpus, k).collect():
        exact.setdefault(r.q_id, set()).add(r.c_id)
    approx = {}
    for r in ivf_topk(emb, k, nq).collect():
        approx.setdefault(r.q_id, set()).add(r.c_id)
    recalls = [
        len(exact[q] & approx.get(q, set())) / k for q in exact
    ]
    mean_recall = sum(recalls) / len(recalls)
    # nprobe=2 of ~10 cells on random vectors: recall is far from 1.0 by
    # design; the gate is that the self-match (rank-1) is never lost and
    # recall clears a sanity floor
    assert all(q in approx and q in approx[q] for q in exact)
    assert mean_recall >= 0.3, f"mean IVF recall {mean_recall:.2f}"


def test_append_ivf_vectors_incremental(spark, sf_dir, tmp_path):
    """Incremental IVF maintenance: building on 80% then appending 20%
    equals building once over everything with the SAME frozen centroid
    set, existing data files are never rewritten, and the probe still
    partition-prunes."""
    import os

    from pyspark.sql import functions as F

    from duckdb_hybrid_doc_search_spark.index.ivf_layout import (
        append_ivf_vectors, ivf_partitioned_topk, write_ivf_partitioned)
    from duckdb_hybrid_doc_search_spark.operators.knn import (
        centroid_pred, derive_nlist)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # centroid vectors (centroid_pred rows) must all be in the BASE build
    # (the frozen-centroid contract); the append batch is a disjoint
    # non-centroid slice — nlist from the FULL corpus count, matching
    # ensure_ivf_append_layout's rule
    nlist = derive_nlist(emb.count())
    is_new = (~centroid_pred("vec_id", nlist)) & (
        F.col("vec_id") % 5 == 3
    )
    base, new = emb.where(~is_new), emb.where(is_new)
    assert new.count() > 0

    inc_dir = str(tmp_path / "inc")
    write_ivf_partitioned(base, inc_dir, nlist=nlist)
    files_before = {
        os.path.join(dp, f)
        for dp, _, fs in os.walk(inc_dir) for f in fs
        if f.endswith(".parquet")
    }
    append_ivf_vectors(spark, inc_dir, new)
    # existing data files untouched (append adds files, rewrites nothing)
    files_after = {
        os.path.join(dp, f)
        for dp, _, fs in os.walk(inc_dir) for f in fs
        if f.endswith(".parquet")
    }
    assert files_before <= files_after and len(files_after) > len(
        files_before
    )

    full_dir = str(tmp_path / "full")
    write_ivf_partitioned(emb, full_dir)
    # same rows in the same cells...
    inc_rows = sorted(
        (r["vec_id"], r["cell"])
        for r in spark.read.parquet(inc_dir).collect()
    )
    full_rows = sorted(
        (r["vec_id"], r["cell"])
        for r in spark.read.parquet(full_dir).collect()
    )
    assert inc_rows == full_rows
    # ...and identical probe results
    got = sorted(
        map(tuple, ivf_partitioned_topk(spark, inc_dir, emb, 10).collect())
    )
    want = sorted(
        map(tuple, ivf_partitioned_topk(spark, full_dir, emb, 10).collect())
    )
    assert got == want


def test_append_rejects_centroid_modulus_ids(spark, sf_dir, tmp_path):
    """A batch carrying a vec_id that lands on a centroid slot must be
    rejected — appended as a plain member it would make query-time
    probes target a nonexistent cell."""
    import pytest
    from pyspark.sql import functions as F

    from duckdb_hybrid_doc_search_spark.index.ivf_layout import (
        append_ivf_vectors, write_ivf_partitioned)
    from duckdb_hybrid_doc_search_spark.operators.knn import (
        CENTROID_MOD, derive_nlist)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = str(tmp_path / "ivf")
    write_ivf_partitioned(emb, out)
    nlist = derive_nlist(emb.count())
    max_id = emb.agg(F.max("vec_id")).first()[0]
    bad_id = ((max_id // CENTROID_MOD) + 1) * CENTROID_MOD
    # the fabricated id must land under the derived-nlist cap or it is
    # not a centroid slot at all (capped centroid_pred)
    assert bad_id < CENTROID_MOD * nlist, (
        "test corpus outgrew the centroid cap; pick a free capped slot"
    )
    bad = emb.limit(1).select(
        F.lit(bad_id).cast("long").alias("vec_id"), "embedding",
        "label",
    )
    with pytest.raises(ValueError, match="centroid slots"):
        append_ivf_vectors(spark, out, bad)


def test_append_rejects_duplicate_vec_ids(spark, sf_dir, tmp_path):
    """A batch whose vec_ids already exist in the layout must be rejected
    (pruned overlap check): appending them would write duplicate rows
    into cell partitions and probes would return duplicate candidates."""
    import pytest
    from pyspark.sql import functions as F

    from duckdb_hybrid_doc_search_spark.index.ivf_layout import (
        append_ivf_vectors, write_ivf_partitioned)
    from duckdb_hybrid_doc_search_spark.operators.knn import (
        centroid_pred, derive_nlist)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = str(tmp_path / "ivf")
    write_ivf_partitioned(emb, out)
    # re-append three existing non-centroid rows verbatim: deterministic
    # frozen-centroid assignment lands them in their original cells, so
    # the pruned check must see them
    dup = emb.where(
        ~centroid_pred("vec_id", derive_nlist(emb.count()))).limit(3)
    with pytest.raises(ValueError, match="overlaps the layout"):
        append_ivf_vectors(spark, out, dup)


def test_append_refuses_pre_side_table_layouts(spark, sf_dir, tmp_path):
    """A layout missing the `_centroids` side table predates the capped
    centroid rule — its build-time centroid set cannot be reconstructed
    consistently with existing cell membership, so append must refuse
    and demand a rebuild (r7 ADVICE: the old recovery scan silently
    assigned against at most nlist centroids while the on-disk
    cells spanned the uncapped set)."""
    import shutil

    import pytest
    from pyspark.sql import functions as F

    from duckdb_hybrid_doc_search_spark.index.ivf_layout import (
        append_ivf_vectors, write_ivf_partitioned)
    from duckdb_hybrid_doc_search_spark.operators.knn import (
        centroid_pred, derive_nlist)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = str(tmp_path / "ivf")
    write_ivf_partitioned(emb.where(F.col("vec_id") % 5 != 3), out)
    shutil.rmtree(out + "_centroids")  # simulate a pre-side-table layout
    new = emb.where(
        (~centroid_pred("vec_id", derive_nlist(emb.count())))
        & (F.col("vec_id") % 5 == 3)).limit(3)
    with pytest.raises(ValueError, match="no _centroids side table"):
        append_ivf_vectors(spark, out, new)


def test_trained_layout_probe_and_recall(spark, sf_dir, tmp_path):
    """The WRITTEN kmeans-trained layout: trained centroids persisted in
    the side table, meta records the source, probes partition-prune, and
    mean recall of the trained layout is not worse than the id-sampled
    layout's (it sees the data; the sample doesn't — on this synthetic
    uniform corpus the gap is small, so the pin allows noise)."""
    from duckdb_hybrid_doc_search_spark.index.ivf_layout import (
        ivf_frozen_layout_topk, read_layout_centroids, read_layout_meta,
        write_ivf_partitioned)
    from duckdb_hybrid_doc_search_spark.operators.knn import (
        derive_nlist, knn_join)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    k, nq = 5, 10
    tdir = str(tmp_path / "trained")
    sdir = str(tmp_path / "sampled")
    write_ivf_partitioned(emb, tdir, centroids="kmeans")
    write_ivf_partitioned(emb, sdir)

    meta = read_layout_meta(tdir)
    assert meta["centroid_source"] == "kmeans"
    assert meta["nlist"] == derive_nlist(emb.count())
    cent = read_layout_centroids(spark, tdir)
    assert cent.count() == meta["nlist"]
    # trained cent_ids are synthetic 0..nlist-1
    ids = sorted(r.cent_id for r in cent.collect())
    assert ids == list(range(meta["nlist"]))

    queries = emb.where(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    probe = ivf_frozen_layout_topk(spark, tdir, queries, k)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan

    exact = {}
    for r in knn_join(
        queries,
        emb.select(F.col("vec_id").alias("c_id"),
                   F.col("embedding").alias("c_vec")), k,
    ).collect():
        exact.setdefault(r.q_id, set()).add(r.c_id)

    def mean_recall(out_dir):
        got = {}
        for r in ivf_frozen_layout_topk(spark, out_dir, queries,
                                        k).collect():
            got.setdefault(r.q_id, set()).add(r.c_id)
        return sum(
            len(exact[q] & got.get(q, set())) / k for q in exact
        ) / len(exact)

    rt, rs = mean_recall(tdir), mean_recall(sdir)
    assert rt > 0.0
    assert rt >= rs - 0.1, (rt, rs)


def test_trained_layout_append_equivalence(spark, sf_dir, tmp_path):
    """Append equivalence AT THE TRAINED CENTROID SET: base build over
    80% against centroids trained on the FULL corpus (the trained twin
    of the full-corpus-nlist rule), 20% appended against the frozen set,
    equals the one-shot build with the same set — and the append path
    must NOT apply the sampled scheme's centroid-slot guard (trained
    cent_ids are synthetic, any vec_id may append)."""
    from duckdb_hybrid_doc_search_spark.index.ivf_layout import (
        append_ivf_vectors, ivf_frozen_layout_topk, write_ivf_partitioned)
    from duckdb_hybrid_doc_search_spark.operators.knn import (
        derive_nlist, kmeans_centroids)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    nlist = derive_nlist(emb.count())
    cent = kmeans_centroids(emb, k=nlist).localCheckpoint(eager=True)
    # the split deliberately puts centroid-modulus ids (vec_id % 50 == 0)
    # in the APPEND slice: under the trained scheme they are plain data
    is_new = F.col("vec_id") % 5 == 0
    base, new = emb.where(~is_new), emb.where(is_new)
    assert new.where(F.col("vec_id") % 50 == 0).count() > 0

    inc_dir = str(tmp_path / "inc")
    write_ivf_partitioned(base, inc_dir, nlist=nlist, centroids=cent)
    append_ivf_vectors(spark, inc_dir, new)

    full_dir = str(tmp_path / "full")
    write_ivf_partitioned(emb, full_dir, nlist=nlist, centroids=cent)

    inc_rows = sorted((r["vec_id"], r["cell"])
                      for r in spark.read.parquet(inc_dir).collect())
    full_rows = sorted((r["vec_id"], r["cell"])
                       for r in spark.read.parquet(full_dir).collect())
    assert inc_rows == full_rows

    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    got = sorted(map(tuple, ivf_frozen_layout_topk(
        spark, inc_dir, queries, 10).collect()))
    want = sorted(map(tuple, ivf_frozen_layout_topk(
        spark, full_dir, queries, 10).collect()))
    assert got == want


def test_frozen_layout_refuses_data_vec_id_centroids(spark, sf_dir,
                                                     tmp_path):
    """Write-time guard (r11 ADVICE): appends waive the centroid-slot
    guard for 'frozen' layouts on the promise that frozen cent_ids are
    synthetic slot ids 0..nlist-1. A caller freezing the id-stride
    SAMPLE (cent_ids are data vec_ids) must be refused at write time —
    otherwise the first append reusing one of those ids silently
    corrupts cell membership instead of raising."""
    from duckdb_hybrid_doc_search_spark.index.ivf_layout import (
        write_ivf_partitioned)
    from duckdb_hybrid_doc_search_spark.operators.knn import (
        centroid_pred, derive_nlist)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    nlist = derive_nlist(emb.count())
    # the id-stride sample, frozen by a (wrong) caller: cent_ids are
    # data vec_ids (0, 50, 100, ... >= nlist for any realistic corpus)
    sampled = emb.where(centroid_pred("vec_id", nlist)).select(
        F.col("vec_id").alias("cent_id"),
        F.col("embedding").alias("cvec"))
    with pytest.raises(ValueError, match="synthetic slot ids"):
        write_ivf_partitioned(emb, str(tmp_path / "bad"), nlist=nlist,
                              centroids=sampled)
    # a synthetic frozen set (the kmeans shape) still writes fine
    from duckdb_hybrid_doc_search_spark.operators.knn import (
        kmeans_centroids)

    good = kmeans_centroids(emb, k=nlist).localCheckpoint(eager=True)
    out = str(tmp_path / "good")
    write_ivf_partitioned(emb, out, nlist=nlist, centroids=good)
    from duckdb_hybrid_doc_search_spark.index.ivf_layout import (
        read_layout_meta)

    assert read_layout_meta(out)["centroid_source"] == "frozen"


def test_trained_layout_centroids_equal_inplan_trainer(spark, sf_dir,
                                                       tmp_path):
    """The consolidation contract (r11 VERDICT #4): the written trained
    layout persists EXACTLY the in-plan Lloyd trainer's centroid set
    (the trainer is deterministic — fixed init, fixed iteration count,
    SCORE_ROUND rounding), so ann_ivf_kmeans_recall may serve its
    trained side from the layout instead of retraining per execution,
    and the recall diagnostic is unchanged row-for-row."""
    from duckdb_hybrid_doc_search_spark.index.ivf_layout import (
        read_layout_centroids, write_ivf_partitioned)
    from duckdb_hybrid_doc_search_spark.operators.knn import (
        assign_to_centroids, ivf_kmeans_recall, kmeans_centroids)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    tdir = str(tmp_path / "trained")
    write_ivf_partitioned(emb, tdir, centroids="kmeans")

    persisted = sorted(
        (r.cent_id, tuple(r.cvec))
        for r in read_layout_centroids(spark, tdir).collect())
    fresh = sorted(
        (r.cent_id, tuple(r.cvec))
        for r in kmeans_centroids(emb).collect())
    assert persisted == fresh

    # and the layout-served recall row equals the in-plan-trained row
    tcent = read_layout_centroids(spark, tdir)
    tassign = spark.read.parquet(tdir).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"),
        "cell")
    from_layout = [tuple(r) for r in ivf_kmeans_recall(
        emb, 5, 10, tcent=tcent, tassign=tassign).collect()]
    in_plan = [tuple(r) for r in ivf_kmeans_recall(emb, 5, 10).collect()]
    assert from_layout == in_plan


def test_append_refuses_multiprobe_layouts(spark, sf_dir, tmp_path):
    """r12 review finding (fixed): append_ivf_vectors writes ONE
    (rank-1) row per vector, so appending into a multiprobe dedup
    layout would silently break the top-p invariant — it must refuse
    loudly instead."""
    from duckdb_hybrid_doc_search_spark.index.ivf_layout import (
        append_ivf_vectors, write_ivf_multiprobe)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = str(tmp_path / "mp")
    # base split keeps centroid-modulus ids (% 50 == 0 implies % 7 == 0
    # only at multiples of 350) so the sampled centroid set is non-empty
    write_ivf_multiprobe(emb.where(F.col("vec_id") % 7 != 0), out, p=2)
    with pytest.raises(ValueError, match="multiprobe"):
        append_ivf_vectors(spark, out,
                           emb.where(F.col("vec_id") % 7 == 0))
