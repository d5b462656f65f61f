"""The benchmark's workloads, each driven by one closed-loop client.

- ``interactive_mix``: rounds of eleven registered queries on a seeded
  star schema plus requests to a layered ANN index (four search shapes,
  a fresh 200-row insert and a replay). Per-request fixed cost dominates:
  plan building, catalog loads, job scheduling, the graph operators'
  eager checkpoints and the index's many small partition-pruned jobs.
- ``corpus_pipeline``: batch passes over a near-duplicate-dense corpus
  (MinHash dedup, SimHash canonical ids, TF-IDF, the LSH kNN graph) ending
  in a parquet upsert of the canonical ids: the dedup, similarity and
  merge layers. At this corpus size the jobs the plan builders launch
  and the per-stage job chains still outweigh executor work.

Every op's output is checked: query and search results against the
registry's DuckDB oracle, inserts against the rows offered, the upsert
against the table read back.
"""

from __future__ import annotations

import os
import random
import shutil
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from datagen import Shape, generate, unit_vectors, vector_table
from oracle import Oracle, spark_rows
from spans import Tally, Tracer

INTERACTIVE_QUERIES = (
    "tpch_q1_pricing_summary",
    "aq_multihop_count_distinct",
    "aq_part_cooccurrence",
    "events_sessionization",
    "events_tumbling_window",
    "text_token_stats",
    "vec_cosine_topk",
    "mm_decode_metadata",
    "graph_transitive_closure",
    "graph_pagerank",
    "graph_connected_components",
)
ANN_READS = ("serve", "serve_filtered", "serve_batch4", "serve_batch16")
ANN_OPS = ANN_READS + ("insert", "replay")
INTERACTIVE_ROUND = INTERACTIVE_QUERIES + ANN_OPS
CORPUS_STAGES = (
    "dedup_minhash_lsh",
    "dedup_simhash_canonical",
    "text_tfidf_top_terms",
    "vec_knn_graph_lsh",
)
INSERT_ROWS = 200
INSERT_ID_BASE = 1_000_000  # above every corpus id, so inserts are fresh
FILTER_LABEL = 2  # the registered filtered search's label

# The star schema is drawn from the run's seed. The ANN vectors and the
# batch corpus stay fixed, so their expensive oracles (several seconds for
# the layered-search and MinHash replays) are computed once per checkout;
# the seed draws the insert and upsert batches and orders every round
# after the first.
TABLES = Shape(
    orders=15_000, customers=1_500, parts=2_000, suppliers=100,
    events=10_000, users=150, documents=500, vectors=500,
)
ANN_VECTORS = Shape(vectors=500, vec_copies=2)
CORPUS = Shape(documents=800, doc_copies=4, vectors=600, vec_copies=4)
FIXED_SEED = 0


def rounds(shapes: tuple[str, ...], seed: int):
    """Endless op stream of rounds, each holding every shape once. The
    first round, which runs every shape cold, keeps the listed order so
    that cold runs are comparable across seeds; later rounds are seeded
    shuffles."""
    rng = random.Random(seed)
    round_ = list(shapes)
    while True:
        yield from round_
        rng.shuffle(round_)


def insert_batch(seed: int, b: int) -> pa.Table:
    """Fresh 200-row batch ``b``: ids INSERT_ID_BASE + b*INSERT_ROWS on."""
    r = np.random.default_rng([seed, 7919, b])
    ids = INSERT_ID_BASE + b * INSERT_ROWS + np.arange(INSERT_ROWS)
    return vector_table(ids, unit_vectors(r, INSERT_ROWS), r.integers(0, 10, INSERT_ROWS))


@dataclass
class Run:
    """One workload run: session, tracer, tally and latency samples.
    ``data_dir`` holds the tables the registered queries read."""

    workload: str
    seed: int
    seconds: float
    tracer: Tracer
    work: str
    t0: float = 0.0  # the program's start: set-up runs from here
    tally: Tally = field(default_factory=Tally)
    samples: list[tuple[str, float]] = field(default_factory=list)
    info: dict = field(default_factory=dict)
    spark: object = None
    data_dir: str = ""
    catalog_calls: int = 0
    catalog_hits: int = 0
    _catalog_seen: dict = field(default_factory=dict)
    counts: dict = field(default_factory=dict)

    # -- set-up ---------------------------------------------------------

    def expected(
        self, name: str, shape: Shape, seed: int, queries: dict[str, str]
    ) -> tuple[str, dict[str, list[tuple]]]:
        """Generate corpus ``name`` and return its directory and the
        oracle rows for each key's registered query (cached per corpus
        manifest and SQL)."""
        from esco_neo4j_spark.plans import REGISTRY
        from esco_neo4j_spark.plans.registry import resolve_sql

        data_dir = os.path.join(self.work, "data", f"{name}-{seed}")
        manifest = generate(data_dir, shape, seed)
        oracle = Oracle(data_dir, manifest, os.path.join(self.work, "oracle"))
        try:
            return data_dir, {
                key: oracle.rows(resolve_sql(REGISTRY[q], data_dir))
                for key, q in queries.items()
            }
        finally:
            oracle.close()

    def bring_up(self, tables: tuple[str, ...]) -> None:
        """Launch the JVM and the SparkSession, register ``tables`` and
        run the session's first job."""
        from esco_neo4j_spark.session import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session"):
            self.spark = get_spark("perfbench")
        self.tracer.sc = self.spark.sparkContext
        self.load_tables(tables, in_op=False)
        self.spark.range(1).count()
        self.info["bring_up_s"] = time.perf_counter() - t0

    def setup_done(self) -> None:
        """Set-up ends where the first timed op starts."""
        self.info["setup_s"] = time.perf_counter() - self.t0

    def load_tables(self, tables: tuple[str, ...], in_op: bool = True) -> None:
        """Register ``tables``; calls made inside ops count toward the
        catalog's cache-hit ratio (a table whose DataFrame is the same
        object the previous call returned was reused)."""
        from esco_neo4j_spark.catalog import load_tables

        with self.tracer.span("catalog"):
            out = load_tables(self.spark, self.data_dir, tables)
        for name, df in out.items():
            if in_op:
                self.catalog_calls += 1
                self.catalog_hits += self._catalog_seen.get(name) is df
            self._catalog_seen[name] = df

    # -- ops ------------------------------------------------------------

    def op(self, name: str, call, check, timed: bool = True) -> float:
        """Run one op and return its latency; record the latency as a
        sample when ``timed`` and the outcome always. ``check(result)``
        runs after the clock stops. An op that raises counts as failed
        with the time it took to fail."""
        self.tracer.op = self.tally.attempted
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op"):
                result = call()
            dt = time.perf_counter() - t0
            ok = bool(check(result))
            why = "" if ok else f"{name}: output differs from expected"
        except Exception:
            dt, ok = time.perf_counter() - t0, False
            why = f"{name}: {traceback.format_exc(limit=3)}"
        self.tracer.op = None
        self.tally.record(ok, why)
        if timed:
            self.samples.append((name, dt))
        return dt

    def query(self, name: str, expected, timed: bool = True) -> float:
        from esco_neo4j_spark.catalog import TPCH_TABLES
        from esco_neo4j_spark.plans import REGISTRY

        q = REGISTRY[name]

        def call():
            self.load_tables(q.tables or TPCH_TABLES)
            with self.tracer.span("plans"):
                df = q.fn(self.spark, self.data_dir)
            with self.tracer.span("execute"):
                rows = df.collect()
            return df.columns, rows

        return self.op(
            name, call, lambda res: spark_rows(*res) == expected, timed
        )

    def run_window(self, ops, do_op, whole_rounds: int = 0) -> float:
        """Closed loop over ``ops`` until ``seconds`` have passed and at
        least one op (or, with ``whole_rounds``, one round of that many
        ops) is done; a round in progress is finished. Returns the
        measured wall time."""
        t0 = time.perf_counter()
        done = 0
        for name in ops:
            elapsed = time.perf_counter() - t0
            if done and elapsed >= self.seconds and (
                not whole_rounds or done % whole_rounds == 0
            ):
                break
            do_op(name)
            done += 1
        return time.perf_counter() - t0


# -- inputs ---------------------------------------------------------------


def _mix_inputs(run: Run):
    return run.expected(
        "tables", TABLES, run.seed, {q: q for q in INTERACTIVE_QUERIES}
    )


def _ann_inputs(run: Run):
    return run.expected("vectors", ANN_VECTORS, FIXED_SEED, {
        "serve": "vec_graph_search_layered_indexed",
        "serve_filtered": "vec_graph_search_layered_filtered",
        "serve_batch4": "vec_graph_search_layered_batch",
    })


def _corpus_inputs(run: Run):
    return run.expected(
        "corpus", CORPUS, FIXED_SEED, {q: q for q in CORPUS_STAGES}
    )


INPUTS = {
    "interactive_mix": (_mix_inputs, _ann_inputs),
    "corpus_pipeline": (_corpus_inputs,),
}


def prepare(run: Run) -> None:
    """Generate the workload's corpora and fill the oracle cache. Run in
    a process of its own before the measured one, so that DuckDB and a
    cold cache never touch the measured process's memory or set-up."""
    for make in INPUTS[run.workload]:
        make(run)


# -- interactive_mix ------------------------------------------------------


def interactive_mix(run: Run) -> None:
    from esco_neo4j_spark.catalog import TPCH_TABLES

    run.data_dir, expected = _mix_inputs(run)
    ann = Ann(run)
    run.bring_up(TPCH_TABLES)
    ann.build()
    run.setup_done()

    def do_op(name: str) -> None:
        if name in ANN_OPS:
            ann.op(name)
        else:
            run.query(name, expected[name])

    run.info["wall_s"] = run.run_window(
        rounds(INTERACTIVE_ROUND, run.seed), do_op, len(INTERACTIVE_ROUND)
    )
    if run.tracer.enabled:
        _probe_graph(run)
        ann.probe()


def _probe_graph(run: Run) -> None:
    """Call the graph operators directly on the edges the graph queries
    derive (events.user_id -> user_id // 2)."""
    from pyspark.sql import functions as F

    from esco_neo4j_spark.operators.graph import (
        connected_components,
        pagerank,
        transitive_closure,
    )

    ev = run.spark.table("events")
    edges = (
        ev.filter(F.col("user_id") >= 1)
        .select(
            F.col("user_id").alias("src"),
            (F.col("user_id") / 2).cast("bigint").alias("dst"),
        )
        .distinct()
    )
    calls = (
        lambda: pagerank(edges, num_iter=10),
        lambda: connected_components(edges.filter(F.col("src") >= 4)),
        lambda: transitive_closure(edges, max_depth=10),
    )
    for call in calls:
        with run.tracer.span("operators.graph"):
            call().count()


class Ann:
    """The layered ANN index of interactive_mix: built once per run by
    ``build_layered_index`` over a fixed vector corpus in the run's own
    index directory, then searched and fed inserts into a live index
    that starts empty."""

    def __init__(self, run: Run):
        self.run = run
        self.data_dir, self.want = _ann_inputs(run)
        root = os.path.join(run.work, "ann")
        shutil.rmtree(root, ignore_errors=True)
        self.index_dir = os.path.join(root, "index")
        self.live = os.path.join(root, "live")
        self.batches = os.path.join(root, "batches")
        os.makedirs(self.batches)
        self.fresh: list[int] = []  # batches inserted so far
        self.rng = random.Random(run.seed)
        self.built: dict = {}

    def build(self) -> None:
        from esco_neo4j_spark.sources.ann_index import build_layered_index

        t0 = time.perf_counter()
        with self.run.tracer.span("sources.ann_index.build"):
            self.built = build_layered_index(
                self.run.spark, self.data_dir, self.index_dir
            )
        self.run.info["index_build_s"] = time.perf_counter() - t0

    def op(self, shape: str) -> None:
        run = self.run
        if shape in ANN_READS:
            run.op(shape, lambda: self.read(shape), lambda r: self.read_ok(shape, r))
        elif shape == "insert":
            b = len(self.fresh)
            self.fresh.append(b)
            run.op(shape, lambda: self.insert(b), lambda n: n == INSERT_ROWS)
        else:  # replay of an earlier batch: must accept nothing
            b = self.rng.choice(self.fresh)
            run.op(shape, lambda: self.insert(b), lambda n: n == 0)

    def read(self, shape: str):
        from esco_neo4j_spark.sources.ann_index import (
            serve_layered,
            serve_layered_batch,
        )

        run, sd, idx = self.run, self.data_dir, self.index_dir
        with run.tracer.span("sources.ann_index.serve"):
            if shape == "serve":
                df = serve_layered(run.spark, sd, idx)
            elif shape == "serve_filtered":
                df = serve_layered(run.spark, sd, idx, FILTER_LABEL)
            else:
                n = int(shape[len("serve_batch"):])
                df = serve_layered_batch(run.spark, sd, idx, n)
        with run.tracer.span("execute"):
            rows = df.collect()
        run.counts["serve_results"] = run.counts.get("serve_results", 0) + len(rows)
        return df.columns, rows

    def read_ok(self, shape: str, res) -> bool:
        cols, rows = res
        if shape != "serve_batch16":
            return spark_rows(cols, rows) == self.want[shape]
        # the registry's batch oracle covers 4 anchors: the 16-anchor
        # batch must extend it (its four lowest anchors) exactly
        aid = cols.index("aid")
        first4 = sorted({r[aid] for r in rows})[:4]
        head = [r for r in rows if r[aid] in first4]
        return (
            len({r[aid] for r in rows}) == 16
            and spark_rows(cols, head) == self.want["serve_batch4"]
        )

    def insert(self, b: int) -> int:
        """Offer batch ``b``; returns the rows the base layer accepted."""
        from esco_neo4j_spark.streaming.layered import process_layered_knn_batch

        run = self.run
        path = os.path.join(self.batches, f"b{b}.parquet")
        if not os.path.exists(path):
            pq.write_table(insert_batch(run.seed, b), path)
        layers = [
            {k: layer[k] for k in ("stride", "n_planes", "n_tables")}
            for layer in self.built["layers"]
        ]
        df = run.spark.read.parquet(path)
        with run.tracer.span("streaming.layered"):
            n = process_layered_knn_batch(
                df, self.live, 64, layers, k=self.built["degree"]
            )
        run.counts["offered"] = run.counts.get("offered", 0) + INSERT_ROWS
        run.counts["accepted"] = run.counts.get("accepted", 0) + n
        return n

    def probe(self) -> None:
        """Build the base layer's kNN graph directly with the arguments
        build_layered_index passes."""
        from esco_neo4j_spark.operators.similarity import lsh_knn_graph

        built = self.built
        base = next(l for l in built["layers"] if l["stride"] == 1)
        emb = os.path.join(self.data_dir, "embeddings.parquet")
        with self.run.tracer.span("operators.similarity"):
            lsh_knn_graph(
                self.run.spark.read.parquet(emb),
                k=built["degree"], cand_cap=built["cand_cap"],
                n_planes=base["n_planes"], n_tables=base["n_tables"],
                seed=built["seed"], ring_window=base["ring"],
            ).count()


# -- corpus_pipeline ------------------------------------------------------


def corpus_pipeline(run: Run) -> None:
    run.data_dir, expected = _corpus_inputs(run)
    n_docs = CORPUS.documents
    table = os.path.join(run.work, "corpus", "canonical.parquet")
    canon = expected["dedup_simhash_canonical"]  # (canonical_id, doc_id, is_duplicate)

    def reset_table() -> None:  # the upsert's base: every doc its own canonical
        shutil.rmtree(os.path.dirname(table), ignore_errors=True)
        os.makedirs(table)
        ids = np.arange(n_docs, dtype=np.int64)
        pq.write_table(
            pa.table({
                "doc_id": ids,
                "canonical_id": ids,
                "is_duplicate": np.zeros(n_docs, dtype=bool),
            }),
            os.path.join(table, "part-0.parquet"),
        )

    rng = random.Random(run.seed)
    state = {}  # doc_id -> (canonical_id, doc_id, is_duplicate) as upserted

    def one_pass(stages: list[str]) -> None:
        """The four query stages, then the upsert of a seeded half of
        the canonical-id assignment; the pass's latency is the sum of its
        stages' (checks excluded)."""
        dt = sum(run.query(n, expected[n], timed=False) for n in stages)
        batch = [r for r in canon if rng.random() < 0.5]
        state.update((r[1], r) for r in batch)
        want = sorted(state.values(), key=repr)
        dt += run.op(
            "upsert", lambda: _upsert(run, table, batch),
            lambda n: n == n_docs and _table_rows(table) == want,
            timed=False,
        )
        run.samples.append(("pass", dt))

    reset_table()
    state.update((d, (d, d, False)) for d in range(n_docs))
    run.bring_up(("documents", "embeddings"))
    run.setup_done()
    passes = rounds(CORPUS_STAGES, run.seed)
    wall = run.run_window(
        iter(lambda: [next(passes) for _ in CORPUS_STAGES], None), one_pass, 1
    )
    run.info["wall_s"] = wall
    run.info["docs"] = n_docs
    if run.tracer.enabled:
        _probe_corpus(run)


def _upsert(run: Run, table: str, batch: list[tuple]) -> int:
    from esco_neo4j_spark.sources.merge import upsert_parquet

    updates = run.spark.createDataFrame(
        [(d, c, dup) for c, d, dup in batch],
        "doc_id bigint, canonical_id bigint, is_duplicate boolean",
    )
    with run.tracer.span("sources.merge"):
        return upsert_parquet(run.spark, table, updates, ["doc_id"])


def _table_rows(table: str) -> list[tuple]:
    t = pq.read_table(table)
    return sorted(
        zip(t["canonical_id"].to_pylist(), t["doc_id"].to_pylist(),
            t["is_duplicate"].to_pylist()),
        key=repr,
    )


def _probe_corpus(run: Run) -> None:
    """Call the dedup and similarity operators directly with the
    arguments dedup_minhash_lsh and vec_knn_graph_lsh pass."""
    from esco_neo4j_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_dedup_pairs,
        minhash_signature,
    )
    from esco_neo4j_spark.operators.similarity import lsh_knn_graph
    from esco_neo4j_spark.plans.vector_queries import (
        _KNN_CAND_CAP,
        _knn_params,
        _knn_ring,
    )

    docs = run.spark.table("documents")
    with run.tracer.span("operators.dedup"):
        sigs = minhash_signature(docs, "text", "doc_id", num_hashes=16)
        candidates = lsh_candidate_pairs(sigs, 4, 4, 64).count()
    with run.tracer.span("operators.dedup"):
        verified = minhash_dedup_pairs(
            docs, "text", "doc_id", threshold=0.5, num_hashes=16, bands=4
        ).count()
    run.counts["dedup_candidates"] = candidates
    run.counts["dedup_verified"] = verified
    n_planes, n_tables = _knn_params(run.data_dir)
    with run.tracer.span("operators.similarity"):
        lsh_knn_graph(
            run.spark.table("embeddings"), k=3, cand_cap=_KNN_CAND_CAP,
            n_planes=n_planes, n_tables=n_tables,
            ring_window=_knn_ring(run.data_dir, n_tables=n_tables),
        ).count()


WORKLOADS = {
    "interactive_mix": interactive_mix,
    "corpus_pipeline": corpus_pipeline,
}
