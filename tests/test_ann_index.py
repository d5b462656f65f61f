"""Persisted layered ANN index (r10): build/serve/maintain split.

The correctness anchor is vec_graph_search_layered (value-oracled); the
indexed face must serve BIT-IDENTICAL results from the stored artifact,
reuse the artifact across calls, rebuild exactly when the manifest stops
matching, survive an interrupted swap, and maintain per-layer graphs
incrementally under the streaming/knn.py contract.
"""

from __future__ import annotations

import json
import os

import pytest

SF_DIR = "/root/testdata/sf0.001"


def _manifest_path(index_dir: str) -> str:
    return os.path.join(index_dir, "layers", "_MANIFEST.json")


@pytest.fixture()
def built(spark, tmp_path):
    """A freshly built index for the sf0.001 corpus in a tmp dir."""
    from esco_neo4j_spark.sources.ann_index import ensure_layered_index

    idx = ensure_layered_index(spark, SF_DIR, str(tmp_path / "idx"))
    return idx


def test_indexed_serve_matches_inline_and_reuses_artifact(spark, built):
    """serve_layered over the stored graphs == the inline (oracled)
    layered search, and a second ensure+serve does NOT rebuild — the
    whole point of the split (at sf10 the inline build is ~88s while
    the serve face is seconds)."""
    from esco_neo4j_spark.plans import REGISTRY
    from esco_neo4j_spark.sources.ann_index import (
        ensure_layered_index,
        serve_layered,
    )

    inline = sorted(
        map(tuple, REGISTRY["vec_graph_search_layered"].fn(spark, SF_DIR).collect())
    )
    got = sorted(map(tuple, serve_layered(spark, SF_DIR, built).collect()))
    assert got == inline and len(got) > 0

    mtime = os.path.getmtime(_manifest_path(built))
    again = ensure_layered_index(spark, SF_DIR, built)
    assert again == built
    assert os.path.getmtime(_manifest_path(built)) == mtime, (
        "matching manifest must not trigger a rebuild"
    )
    got2 = sorted(map(tuple, serve_layered(spark, SF_DIR, built).collect()))
    assert got2 == inline


def test_registered_indexed_query_matches_inline(spark, tmp_path):
    """The registered query (default index root) equals the inline
    query — this is what makes the shared oracle valid for the indexed
    face."""
    from esco_neo4j_spark.plans import REGISTRY

    inline = sorted(
        map(tuple, REGISTRY["vec_graph_search_layered"].fn(spark, SF_DIR).collect())
    )
    idx = sorted(
        map(
            tuple,
            REGISTRY["vec_graph_search_layered_indexed"].fn(spark, SF_DIR).collect(),
        )
    )
    assert idx == inline and len(idx) > 0


def test_stale_manifest_triggers_rebuild(spark, built):
    """Any manifest drift — corpus row count, algo version, a derived
    parameter — must force a rebuild (manifest-pinned staleness, never
    guessed)."""
    from esco_neo4j_spark.sources.ann_index import (
        ensure_layered_index,
        expected_manifest,
        read_manifest,
    )

    mp = _manifest_path(built)
    tampered = read_manifest(built)
    tampered["algo_version"] = -1
    with open(mp, "w") as f:
        json.dump(tampered, f)
    ensure_layered_index(spark, SF_DIR, built)
    assert read_manifest(built) == expected_manifest(SF_DIR), (
        "stale manifest must be rebuilt to today's derivation"
    )


def test_interrupted_swap_is_recovered(spark, built):
    """Crash in the swap's unsafe window (live dir renamed away, fully
    written tmp present): ensure must roll FORWARD to the complete tmp
    copy without a rebuild — the recover_swap contract the IVF index
    and shard sink already pin."""
    from esco_neo4j_spark.sources.ann_index import (
        ensure_layered_index,
        expected_manifest,
        read_manifest,
        serve_layered,
    )

    layers = os.path.join(built, "layers")
    os.rename(layers, layers + "__merging")
    assert not os.path.exists(layers)
    ensure_layered_index(spark, SF_DIR, built)
    assert os.path.exists(layers)
    assert not os.path.exists(layers + "__merging")
    assert read_manifest(built) == expected_manifest(SF_DIR)
    assert serve_layered(spark, SF_DIR, built).count() > 0


def test_serve_score_col_matches_arrow_scorer(spark):
    """The serve-side scoring expression (`_anchor_score_multi_col`: the
    JVM HOF chain wrapped with the Arrow scorer's NULL contract, here in
    its one-anchor case, element 0) must equal
    `round(arrow_scorer, 6)` on every corpus vector AND on the corner
    inputs the wrapper exists for — NaN element, Inf element, zero
    vector, null element, null array — the property that lets the
    indexed serve share the inline query's oracle."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        LongType,
        StructField,
        StructType,
    )

    from esco_neo4j_spark.operators.similarity import _anchor_cosine_pudf
    from esco_neo4j_spark.plans.vector_queries import _anchor_vec
    from esco_neo4j_spark.sources.ann_index import _anchor_score_multi_col

    from esco_neo4j_spark.catalog import load_tables

    load_tables(spark, SF_DIR, ["embeddings"])
    emb = spark.read.parquet(
        os.path.join(SF_DIR, "embeddings.parquet")
    ).select("vec_id", "embedding")
    anchor = _anchor_vec(spark)
    dim = len(anchor)
    corner_schema = StructType(
        [
            StructField("vec_id", LongType(), True),
            StructField("embedding", ArrayType(FloatType(), True), True),
        ]
    )
    corners = spark.createDataFrame(
        [
            (10_000_001, [float("nan")] + [1.0] * (dim - 1)),
            (10_000_002, [float("inf")] + [1.0] * (dim - 1)),
            (10_000_003, [0.0] * dim),
            (10_000_004, [None] + [1.0] * (dim - 1)),
            (10_000_005, None),
        ],
        schema=corner_schema,
    )
    pudf = _anchor_cosine_pudf(anchor)
    rows = (
        emb.unionByName(corners)
        .select(
            "vec_id",
            _anchor_score_multi_col([(0, anchor)])[0].alias("a"),
            F.round(pudf(F.col("embedding")), 6).alias("b"),
        )
        .collect()
    )
    assert len(rows) > len(corners.collect())
    for r in rows:
        assert (r["a"] is None) == (r["b"] is None), r["vec_id"]
        if r["a"] is not None:
            # bit-identity post-round (NaN==NaN handled explicitly)
            assert r["a"] == r["b"] or (
                r["a"] != r["a"] and r["b"] != r["b"]
            ), r["vec_id"]


def test_batch_serve_anchor0_matches_single_serve(spark, built):
    """Per-aid rows of the batched serve must be bit-identical to
    independent single serves — pinned on anchor 0 (vec_id 0, the
    single serve's anchor): same vec_ids, same 6dp scores, same rk.
    This is the property that lets the batch share the single search's
    oracle derivation (B window partitions over the same graphs)."""
    from esco_neo4j_spark.plans.vector_queries import _GS_BATCH
    from esco_neo4j_spark.sources.ann_index import (
        serve_layered,
        serve_layered_batch,
    )

    single = [
        tuple(r)
        for r in serve_layered(spark, SF_DIR, built).collect()
    ]
    batch = serve_layered_batch(
        spark, SF_DIR, built, _GS_BATCH
    ).collect()
    aids = sorted({r["aid"] for r in batch})
    assert len(aids) == _GS_BATCH
    assert aids[0] == 0
    a0 = [
        (r["vec_id"], r["score"], r["rk"])
        for r in batch
        if r["aid"] == 0
    ]
    assert a0 == single
    # every anchor's own top-1 is itself at score 1.0 (exact cosine
    # of a vector with itself on this corpus's finite embeddings)
    for aid in aids:
        top = [r for r in batch if r["aid"] == aid and r["rk"] == 1]
        assert top and top[0]["vec_id"] == aid, aid


def test_filtered_serve_returns_only_matching_labels(spark, built):
    """The filtered serve must return ONLY ids whose corpus label
    matches, with dense ranks from 1, and each returned (id, score)
    must appear in the unfiltered serve's visited ranking order —
    i.e. filtering happens at final ranking over the same walk, not by
    a different (possibly disconnected) navigation."""
    from pyspark.sql import functions as F

    from esco_neo4j_spark.plans.vector_queries import _GS_FILTER_LABEL
    from esco_neo4j_spark.sources.ann_index import serve_layered

    rows = serve_layered(
        spark, SF_DIR, built, label_filter=_GS_FILTER_LABEL
    ).collect()
    assert rows, "walk visited no eligible ids on this corpus"
    assert [r["rk"] for r in rows] == list(range(1, len(rows) + 1))
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    labels = {
        r["vec_id"]: r["label"]
        for r in emb.filter(
            F.col("vec_id").isin([r["vec_id"] for r in rows])
        )
        .select("vec_id", "label")
        .collect()
    }
    for r in rows:
        assert labels[r["vec_id"]] == _GS_FILTER_LABEL, r
    # scores must be the same walk's scores: descending in rank
    scores = [r["score"] for r in rows if r["score"] is not None]
    assert scores == sorted(scores, reverse=True)


def test_serve_refuses_corpus_without_anchor_embedding(spark, tmp_path):
    """The single serve's query vector is vec_id 0's embedding. When the
    corpus stores a null there, vec_id 0 is absent from the index's
    vectors table, and serving must raise instead of silently anchoring
    the walk on the next-lowest stored id."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from esco_neo4j_spark.sources.ann_index import (
        _open_index,
        ensure_layered_index,
        serve_layered,
    )

    t = pq.read_table(os.path.join(SF_DIR, "embeddings.parquet"))
    col = t.schema.get_field_index("embedding")
    is0 = pc.equal(t["vec_id"], 0)
    assert pc.any(is0).as_py(), "corpus has no vec_id 0"
    nulled = pc.if_else(
        is0, pa.scalar(None, type=t.schema.field(col).type), t["embedding"]
    )
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(
        t.set_column(col, t.schema.field(col), nulled),
        str(sf / "embeddings.parquet"),
    )
    idx = ensure_layered_index(spark, str(sf), str(tmp_path / "idx"))
    assert _open_index(spark, idx).seed_ids[0] != 0
    with pytest.raises(ValueError, match="vec_id=0"):
        serve_layered(spark, str(sf), idx)


def test_built_artifact_has_no_fs_sidecars(built):
    """The build strips Hadoop's write-time sidecars (`.*.crc`,
    `_SUCCESS`) from the swapped artifact: they double the filesystem
    objects the cold serve-open lists and make every pruned read verify
    a whole-file checksum parquet already covers internally (r10;
    measured 14-35% off the sf30 cold-cache serve, bit-identical
    output). A regression here silently re-taxes every serve."""
    import os as _os

    for dirpath, _dirnames, filenames in _os.walk(built):
        for fn in filenames:
            assert fn != "_SUCCESS", dirpath
            assert not (fn.startswith(".") and fn.endswith(".crc")), (
                dirpath,
                fn,
            )


def test_serve_reads_are_partition_pruned(spark, built):
    """The serve face's reads must prune at the FILE level: frontier ids
    resolve through the build-time file manifest to explicit bucket
    files (r11 — no directory is listed on the serve path) and the
    literal pbucket/vbucket IN predicates stay on the scan as
    PartitionFilters, so a read touches O(frontier) of the nb hash
    buckets — the property that makes serve cost independent of corpus
    size. Pinned on BOTH the physical plan's PartitionFilters and the
    scan's actual input files (an accidental re-layout or manifest drift
    would silently regress to full scans per round)."""
    from esco_neo4j_spark.sources.ann_index import (
        _bucket_py,
        _open_index,
        _pruned_src_edges,
        _pruned_vectors,
    )

    ix = _open_index(spark, built)
    nb = ix.manifest["nb"]
    some_ids = ix.seed_ids[:3]
    buckets = sorted({_bucket_py(i, nb) for i in some_ids})

    edges = _pruned_src_edges(spark, ix, 1, some_ids)
    edge_plan = edges._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in edge_plan
    assert "pbucket" in edge_plan.split("PartitionFilters", 1)[1].split(
        "]", 1
    )[0], edge_plan
    # file-level pin: every scanned file lies in a requested bucket dir,
    # and only manifest-listed files are scanned
    want_dirs = {f"stride=1/pbucket={b}" for b in buckets}
    got_files = edges.inputFiles()
    assert got_files, "pruned edge read resolved no files"
    for f in got_files:
        rel = f.split("/graph/", 1)[1]
        d, fn = rel.rsplit("/", 1)
        assert d in want_dirs, f
        assert fn in ix.files["graph"][d], f

    vec_plan = (
        _pruned_vectors(spark, ix, some_ids)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "vbucket" in vec_plan.split("PartitionFilters", 1)[1].split(
        "]", 1
    )[0], vec_plan


def test_files_manifest_covers_artifact_and_pins_seeds(spark, built):
    """_FILES.json must list exactly the parquet files on disk (per
    table, per partition dir) and carry the lowest stored vec_ids —
    the serve path trusts it instead of listing, so drift between the
    manifest and the tree would mean silently unread data."""
    from pyspark.sql import functions as F

    from esco_neo4j_spark.sources.ann_index import (
        _layers_path,
        _open_index,
    )

    ix = _open_index(spark, built)
    root = _layers_path(built)
    for t in ("graph", "vectors", "members"):
        ondisk = {}
        troot = os.path.join(root, t)
        for dirpath, _dn, fns in os.walk(troot):
            pq = sorted(f for f in fns if f.endswith(".parquet"))
            if pq:
                ondisk[os.path.relpath(dirpath, troot)] = pq
        assert ix.files[t] == ondisk, t
    # seed ids = the lowest stored (non-null-embedding) vec_ids
    vec = spark.read.parquet(os.path.join(root, "vectors"))
    want = [
        r["vec_id"]
        for r in vec.select("vec_id")
        .orderBy(F.asc("vec_id"))
        .limit(len(ix.seed_ids))
        .collect()
    ]
    assert ix.seed_ids == want


def test_open_index_lists_no_directories(spark, built, monkeypatch):
    """The cold open is two JSON reads — the 8.5s sf30 cold-listing tax
    the file manifest exists to remove. Pin it: opening the index must
    not call os.listdir/os.scandir and must run zero Spark jobs."""
    import os as _os

    from esco_neo4j_spark.sources import ann_index

    calls = []
    real_scandir = _os.scandir
    monkeypatch.setattr(
        _os,
        "scandir",
        lambda *a, **k: calls.append(a) or real_scandir(*a, **k),
    )
    real_listdir = _os.listdir
    monkeypatch.setattr(
        _os,
        "listdir",
        lambda *a, **k: calls.append(a) or real_listdir(*a, **k),
    )
    ix = ann_index._open_index(spark, built)
    assert ix.manifest and ix.files and ix.seed_ids
    assert calls == [], f"open listed directories: {calls}"


def test_layered_maintenance_stream_equals_batch(spark, tmp_path):
    """Per-layer incremental inserts with the hashed level coin: after
    three micro-batches each layer's maintained edges equal the
    UNCAPPED batch graph over the batch union restricted to that layer
    (the streaming/knn.py contract, applied per layer), and a replayed
    batch is a no-op."""
    from pyspark.sql import functions as F

    from esco_neo4j_spark.operators.similarity import lsh_knn_graph
    from esco_neo4j_spark.streaming.layered import (
        live_layer_edges,
        process_layered_knn_batch,
    )

    emb = (
        spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") < 240)
    )
    layers = [
        {"stride": 8, "n_planes": 4, "n_tables": 8},
        {"stride": 1, "n_planes": 5, "n_tables": 10},
    ]
    index_dir = str(tmp_path / "live_idx")
    batches = [emb.filter(f"vec_id % 3 = {i}") for i in range(3)]
    for b in batches:
        process_layered_knn_batch(b, index_dir, dim=64, layers=layers, k=3)

    coin = (F.col("vec_id") * F.lit(2654435761)) % F.lit(4294967296)
    for layer in layers:
        s = layer["stride"]
        sub = emb if s == 1 else emb.filter(coin < F.lit(4294967296 // s))
        want = {
            (r["src"], r["nbr"], r["score"], r["rk"])
            for r in lsh_knn_graph(
                sub, k=3, cand_cap=10**6,
                n_planes=layer["n_planes"], n_tables=layer["n_tables"],
                max_bucket=None,
            ).collect()
        }
        got = {
            (r["src"], r["nbr"], r["score"], r["rk"])
            for r in live_layer_edges(spark, index_dir, s).collect()
        }
        assert got == want and len(got) > 0, f"stride {s}"

    # replay the last batch: every layer's edges unchanged
    before = {
        l["stride"]: {
            tuple(r) for r in live_layer_edges(
                spark, index_dir, l["stride"]
            ).collect()
        }
        for l in layers
    }
    assert process_layered_knn_batch(
        batches[2], index_dir, dim=64, layers=layers, k=3
    ) == 0
    after = {
        l["stride"]: {
            tuple(r) for r in live_layer_edges(
                spark, index_dir, l["stride"]
            ).collect()
        }
        for l in layers
    }
    assert after == before
