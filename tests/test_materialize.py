"""The one materialization primitive (core/materialize.py): scopes own
what is pinned or checkpointed inside them, threads join their caller's
scope only through a copied context, the session FIFO bounds unscoped
pins and never holds a checkpoint, and every registry query leaves no
persisted RDD behind once its scope exits."""

from __future__ import annotations

import contextvars
import sys
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest

from datalake_backend_spark.core import materialize
from datalake_backend_spark.core.materialize import checkpoint, parts_for, pin, scope
from datalake_backend_spark.operators import ranking

SF_DIR = "/root/testdata/sf0.001"

#: registry rows that left persisted RDDs behind after their action when
#: run unscoped in one session before scopes existed (found by diffing
#: getPersistentRDDs() around each of the 259 rows at sf0.001): family
#: FIFO pins, localCheckpoint results and the minhash shingle persist
LEFT_RDDS = (
    "q111_streaming_upsert",
    "q126_leakage_safe_split",
    "q145_pagerank",
    "q147_bfs_hops",
    "q178_entity_resolution",
    "q179_skyline",
    "q183_ecdf_percentile",
    "q212_score_deciles",
    "q254_streaming_kmv",
    "q72_sequence_packing",
    "q73_curation_pipeline",
    "r105_streaming_matview",
    "r107_percentile_sketch",
    "r112_vocab_coverage",
    "r117_negative_samples",
    "r122_distribution_drift",
    "r128_bloom_decontamination",
    "r144_lm_doc_score",
    "r146_tf_cosine_pairs",
    "r148_semantic_dedup",
    "r151_nb_quality_score",
    "r154_bm25_topk",
    "r162_bm25_multi",
    "r166_set_similarity_join",
    "r169_triangle_count",
    "r170_personalized_pagerank",
    "r174_sorted_neighborhood",
    "r186_match_weights",
    "r187_kcore",
    "r195_winsorized_mean",
    "r197_association_lift",
    "r200_rfm_segments",
    "r201_cluster_keep_best",
    "r205_tree_paths",
    "r206_bounded_sssp",
    "r210_gini_concentration",
    "r211_abc_classification",
    "r214_subtree_rollup",
    "r215_weighted_median",
    "r221_concurrency_sweep",
    "r223_share_of_root",
    "r227_streaming_reach",
    "r229_mann_whitney",
    "r230_spearman_rho",
    "r239_node_jaccard",
    "r242_key_skew_profile",
    "r243_roc_auc",
    "r245_autocorrelation",
    "r247_grid_density_clusters",
    "r252_categorical_mi",
    "r255_weighted_quantiles",
    "r38_percentiles",
    "r76_dedup_clusters",
    "r83_tfidf_terms",
    "r96_versioned_sink",
)


def _persisted(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_scope_releases_pins_and_checkpoints(spark):
    """A scope releases both kinds on exit; ``outer=True`` hands a
    checkpoint to the enclosing scope, which keeps it readable after the
    inner scope has released everything else."""
    before = _persisted(spark)
    with scope("outer") as outer:
        with scope("inner") as inner:
            kept = pin(spark.range(20).selectExpr("id * 2 as x"), "test.pin", eager=True)
            result = checkpoint(kept.selectExpr("x + 1 as y"), "test.result", outer=True)
            assert [n for n, _ in inner.held] == ["test.pin"]
        assert not kept.storageLevel.useMemory
        assert [n for n, _ in outer.held] == ["test.result"]
        assert sorted(r.y for r in result.collect()) == [2 * i + 1 for i in range(20)]
    assert _persisted(spark) - before == set()


def test_concurrently_registers_into_callers_scope(spark):
    """The engine's zone-writer threads run in a copy of the caller's
    context, so their pins belong to the caller's scope; a plain thread
    starts with no scope and pins into the session FIFO."""
    from datalake_backend_spark.engine import _concurrently

    def pinned() -> bool:
        return pin(spark.range(3), "test.thread").storageLevel.useMemory

    with scope("upload") as owner:
        assert _concurrently(spark, pinned, pinned) == [True, True]
        assert [n for n, _ in owner.held] == ["test.thread"] * 2
        t = threading.Thread(target=pinned)
        t.start()
        t.join(timeout=120)
        assert not t.is_alive()
        assert len(owner.held) == 2
    assert materialize._SESSION.held[-1][0] == "test.thread"
    materialize.release_all()


class _Frame:
    """Stand-in for a DataFrame: counts persist and unpersist calls."""

    def __init__(self) -> None:
        self.persists = self.unpersists = 0

    def persist(self) -> None:
        self.persists += 1

    def unpersist(self, blocking: bool) -> None:
        self.unpersists += 1


def test_registry_stress_no_lost_or_double_release():
    """32 threads pin 200 frames each, half into one shared scope (the
    upload's zone writers) and half unscoped into the session FIFO,
    with a short switch interval: the scope releases every frame it
    was handed exactly once, and the FIFO keeps exactly its keep count,
    having released every other frame exactly once."""
    materialize.release_all()
    scoped = [[_Frame() for _ in range(200)] for _ in range(16)]
    unscoped = [[_Frame() for _ in range(200)] for _ in range(16)]

    def run(frames) -> None:
        for f in frames:
            pin(f, "stress")

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with scope("stress") as owner:
            threads = [
                threading.Thread(target=contextvars.copy_context().run, args=(run, fs))
                for fs in scoped
            ] + [threading.Thread(target=run, args=(fs,)) for fs in unscoped]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=120)
            assert not any(t.is_alive() for t in threads)
            assert len(owner.held) == 16 * 200
    finally:
        sys.setswitchinterval(interval)
    assert all(f.unpersists == 1 for fs in scoped for f in fs)
    loose = [f for fs in unscoped for f in fs]
    assert sum(f.unpersists for f in loose) == len(loose) - materialize._SESSION_KEEP
    assert max(f.unpersists for f in loose) == 1
    materialize.release_all()
    assert all(f.unpersists == 1 for f in loose)


def test_parts_for():
    """The sizing helper: ~rows_per_part rows each, capped at the
    current count, never below 2."""
    assert parts_for(0, 200, 1_000_000) == 2
    assert parts_for(5_000_000, 200, 1_000_000) == 7
    assert parts_for(10**12, 200, 1_000_000) == 200
    assert parts_for(10, 1, 100) == 2


def test_concurrent_scoped_kernel_calls_keep_their_frames(spark):
    """Six concurrent kernel calls, each in its own scope on its own
    thread: every call's pinned input stays cached until ITS scope
    exits, whatever the other five pin or release meanwhile, and each
    scope's exit releases exactly its own frames."""
    frames = [
        spark.createDataFrame(
            [(f"k{i % 3}", i * (j + 1), 1) for i in range(200)],
            "k string, v bigint, w bigint",
        )
        for j in range(6)
    ]
    # no scope exits before all six calls have pinned and acted
    acted = threading.Barrier(6)

    def work(df):
        with scope("concurrent") as owner:
            assert ranking.keyed_running_sum(df, ["k"], ["v"], "w").count() == 200
            acted.wait(timeout=300)
            held = [name for name, _ in owner.held]
            cached = df.storageLevel.useMemory
        return held, cached, df.storageLevel.useMemory

    with ThreadPoolExecutor(max_workers=6) as ex:
        results = list(ex.map(work, frames))
    for held, cached_inside, cached_after in results:
        assert held == ["ranking.input"], held
        assert cached_inside, "a scoped frame was released before its scope exited"
        assert not cached_after, "a frame outlived its scope"


def test_unscoped_checkpoint_survives_session_fifo(spark):
    """Outside every scope, pins go to the session FIFO (keep 8) but
    checkpoints are not held by it: a checkpointed frame stays readable
    after more than 8 further pins have cycled through the FIFO."""
    materialize.release_all()
    ckpt = materialize.checkpoint(
        spark.range(50).selectExpr("id * 3 as x"), "test.unscoped"
    )
    pins = [
        materialize.pin(
            spark.range(i + 1).selectExpr(f"id + {i} as y"), "test.pin", eager=True
        )
        for i in range(materialize._SESSION_KEEP + 4)
    ]
    assert [f.storageLevel.useMemory for f in pins[:4]] == [False] * 4
    assert all(f.storageLevel.useMemory for f in pins[4:])
    assert sorted(r.x for r in ckpt.collect()) == [3 * i for i in range(50)]
    materialize.release_all()
    assert not any(f.storageLevel.useMemory for f in pins)


@pytest.mark.parametrize("name", LEFT_RDDS)
def test_registry_query_leaves_nothing_in_scope(spark, name):
    """Each registry row that used to leave cached data behind leaves no
    new persisted RDD, checkpoints included, once its scope exits;
    checked right after the action, with no GC wait."""
    from datalake_backend_spark.queries import QUERIES

    before = _persisted(spark)
    with scope(name):
        QUERIES[name].fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
    assert _persisted(spark) - before == set()
