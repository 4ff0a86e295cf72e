"""memo.session_state / memo.clear_session_caches — the one
session-state primitive and its eviction hook: scoped eviction,
unpersist, rmtree of package state dirs only, idempotence, the
all-sessions sweep, key binding, and rebuild-after-clear."""

from __future__ import annotations

import ast
import os
import pathlib
import shutil
import tempfile

import pytest

from tests.conftest import SF_SMOKE

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "gpu_accelerated_vector_indexing_spark"


def test_clear_session_caches_evicts_and_unpersists(spark):
    from gpu_accelerated_vector_indexing_spark import memo
    from gpu_accelerated_vector_indexing_spark.memo import clear_session_caches
    from gpu_accelerated_vector_indexing_spark.operators import graph

    # populate one real memoized relation (cached + counted inside)
    df = graph._pagerank_edges(spark, SF_SMOKE)
    assert graph._pagerank_edges.lookup(spark, SF_SMOKE) is df
    assert df.storageLevel.useMemory

    # an entry for a DIFFERENT "session" must survive a session-scoped
    # clear (a global sweep would also remove it, but running one
    # mid-suite would trash every OTHER test's shared fixture state —
    # evict it directly instead)
    other = object()
    graph._pagerank_edges.prime("sentinel", other, "x")
    try:
        n = clear_session_caches(spark)
        assert n >= 1
        assert graph._pagerank_edges.lookup(spark, SF_SMOKE) is None
        assert graph._pagerank_edges.lookup(other, "x") == "sentinel"
        assert not df.storageLevel.useMemory  # unpersisted, not just dropped
    finally:
        graph._pagerank_edges.evict(other, "x")

    # eviction walks the registry every decorated builder joins
    assert graph._pagerank_edges in memo._REGISTRY


def test_clear_reclaims_persisted_state_dirs(spark):
    """A state value is the only handle to its state_dir layout —
    eviction must delete the directory, not just drop the path, and
    must leave foreign paths alone."""
    from gpu_accelerated_vector_indexing_spark.memo import clear_session_caches, state_dir
    from gpu_accelerated_vector_indexing_spark.operators import graph_ann

    ours = state_dir("memotest")
    foreign = tempfile.mkdtemp(prefix="unrelated_memotest_")
    fake = object()
    graph_ann.fixture_graph_index.prime(ours, fake, "ours")
    graph_ann.fixture_graph_index.prime(foreign, fake, "foreign")
    try:
        assert clear_session_caches(fake) == 2
        assert not os.path.exists(ours)
        assert os.path.exists(foreign)  # not a package state dir: untouched
        assert graph_ann.fixture_graph_index.lookup(fake, "foreign") is None
    finally:
        graph_ann.fixture_graph_index.evict(fake, "ours")
        graph_ann.fixture_graph_index.evict(fake, "foreign")
        shutil.rmtree(foreign, ignore_errors=True)


def test_clear_is_idempotent_and_scoped(spark):
    from gpu_accelerated_vector_indexing_spark.memo import clear_session_caches

    clear_session_caches(spark)
    assert clear_session_caches(spark) == 0
    with pytest.raises(ValueError):
        clear_session_caches()


class _FakeSession:
    """Duck-typed session for the sweep: ``read``/``sql`` mark it as a
    session, ``sparkContext._jsc`` says whether it is stopped."""

    read = sql = None

    def __init__(self, stopped: bool):
        self.sparkContext = type("SC", (), {"_jsc": None if stopped else object()})()


def test_session_state_binds_keys_and_sweeps_stopped_sessions():
    from gpu_accelerated_vector_indexing_spark import memo

    calls = []

    @memo.session_state
    def probe(spark, sf_dir, n_shards=2):
        calls.append((sf_dir, n_shards))
        return memo.state_dir("memotest")

    try:
        live, stopped = _FakeSession(False), _FakeSession(True)
        # positional, keyword and defaulted spellings of one call share
        # one entry; a different argument is a different entry
        a = probe(live, "a")
        assert probe(live, "a", 2) == a == probe(live, sf_dir="a", n_shards=2)
        assert probe(live, "a", n_shards=3) != a
        assert calls == [("a", 2), ("a", 3)]
        assert probe.lookup(live, "a") == a and probe.lookup(live, "b") is None
        gone = probe(stopped, "a")

        # the sweep evicts STOPPED sessions only
        assert memo.clear_session_caches(all_sessions=True) >= 1
        assert not os.path.exists(gone)
        assert probe.lookup(stopped, "a") is None
        assert probe.lookup(live, "a") == a and os.path.exists(a)
        assert memo.clear_session_caches(live) == 2
        assert not os.path.exists(a)
    finally:
        memo._REGISTRY.remove(probe)
        for path in probe.entries.values():
            shutil.rmtree(path, ignore_errors=True)


def _package_dirs(root: pathlib.Path) -> set[str]:
    from gpu_accelerated_vector_indexing_spark.memo import _TEMP_DIR_PREFIX

    return {p.name for p in root.iterdir() if p.name.startswith(_TEMP_DIR_PREFIX)}


def test_migration_rebuilds_after_clear(spark, tmp_path, monkeypatch):
    """Every memoized query returns the same rows after a clear: the
    embedder migration once handed out a v1 path its eviction had
    already deleted (PATH_NOT_FOUND on the second run). After the clear
    no state holds an entry for the session and no state dir the test
    created is left on disk."""
    from gpu_accelerated_vector_indexing_spark import memo
    from gpu_accelerated_vector_indexing_spark.operators.index_build import (
        index_embedder_migration,
    )

    # state dirs land in a private temp root, so the on-disk audit
    # never sees another process's directories
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    memo.clear_session_caches(spark)

    def run():
        return sorted(tuple(r) for r in index_embedder_migration(spark, SF_SMOKE).collect())

    first = run()
    assert len(_package_dirs(tmp_path)) == 2  # the v1 and v2 layouts
    memo.clear_session_caches(spark)
    assert not _package_dirs(tmp_path)
    assert run() == first
    memo.clear_session_caches(spark)
    assert all(
        not any(key[0] is spark for key in state.entries) for state in memo._REGISTRY
    )
    assert not _package_dirs(tmp_path)


def test_bin_stream_export_follows_regenerated_fixture(spark, tmp_path, monkeypatch):
    """Regenerating the fixture in place re-exports the ``.bin`` layout
    and deletes the superseded export: exactly one export exists."""
    from gpu_accelerated_vector_indexing_spark.queries import streaming_q
    from gpu_accelerated_vector_indexing_spark.sources.fixtures import load_table

    tmp_root = tmp_path / "tmp"
    tmp_root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_root))
    sf = tmp_path / "sf"
    sf.mkdir()
    src = pathlib.Path(SF_SMOKE) / "embeddings.parquet"
    dst = sf / "embeddings.parquet"
    shutil.copyfile(src, dst)
    try:
        first = streaming_q._bin_stream(spark, str(sf)).collect()
        old = streaming_q._bin_export.lookup(spark, str(sf))[0]

        # regenerate in place: same rows, new file (new mtime)
        shutil.copyfile(src, dst)
        st = dst.stat()
        os.utime(dst, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))

        assert streaming_q._bin_stream(spark, str(sf)).collect() == first
        new = streaming_q._bin_export.lookup(spark, str(sf))[0]
        assert new != old and not os.path.exists(old)
        assert _package_dirs(tmp_root) == {os.path.basename(new)}
    finally:
        streaming_q._bin_export.evict(spark, str(sf))
        load_table.evict(spark, str(sf), "embeddings")


def test_no_hand_rolled_memo_dicts():
    """Session state goes through memo.session_state: no package module
    may declare a module-level ``_name = {}`` / ``dict()`` memo.
    ``embedder._TOKEN_MEMO`` is a bounded per-process token cache, not
    session state."""
    allowed = {"_TOKEN_MEMO"}
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path.name == "memo.py":
            continue
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign) and node.value is not None:
                targets, value = [node.target], node.value
            else:
                continue
            empty = (isinstance(value, ast.Dict) and not value.keys) or (
                isinstance(value, ast.Call)
                and isinstance(value.func, ast.Name)
                and value.func.id == "dict"
                and not value.args
                and not value.keywords
            )
            for t in targets:
                if (
                    empty
                    and isinstance(t, ast.Name)
                    and t.id.startswith("_")
                    and t.id not in allowed
                ):
                    found.append(f"{path.relative_to(PACKAGE)}:{node.lineno} {t.id}")
    assert not found, f"hand-rolled memo dicts (use memo.session_state): {found}"


def _calls_local_checkpoint(tree: ast.AST) -> bool:
    return any(
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "localCheckpoint"
        for node in ast.walk(tree)
    )


def test_no_hand_rolled_checkpoint_loops():
    """Iterative operators go through ``iterate.iterate``: no function
    under ``operators/`` other than the kernel calls ``.localCheckpoint(``
    inside a ``for``/``while`` body, directly or through a same-module
    function whose body does — a hand-rolled loop would restate the cut
    cadence and the snapshot freeing the kernel owns. Streaming
    ``foreachBatch`` accumulators are callbacks, not loops."""
    found = []
    for path in sorted((PACKAGE / "operators").rglob("*.py")):
        if path.name == "iterate.py":
            continue
        tree = ast.parse(path.read_text())
        cutters = {
            fn.name
            for fn in ast.walk(tree)
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)) and _calls_local_checkpoint(fn)
        }
        for loop in ast.walk(tree):
            if not isinstance(loop, (ast.For, ast.While)):
                continue
            for node in ast.walk(loop):
                if not isinstance(node, ast.Call):
                    continue
                if isinstance(node.func, ast.Attribute) and node.func.attr == "localCheckpoint":
                    found.append(f"{path.relative_to(PACKAGE)}:{node.lineno}")
                elif isinstance(node.func, ast.Name) and node.func.id in cutters:
                    found.append(f"{path.relative_to(PACKAGE)}:{loop.lineno} {node.func.id}")
    assert not found, f"localCheckpoint loops outside operators/iterate.py: {sorted(set(found))}"


def test_pinned_normed_corpus_is_released_and_rebuilt_after_clear(spark):
    """The IVF batch's pinned normed corpus is session state like any
    other: a clear unpersists it, and the next batch pins it again with
    identical rows and answers identically."""
    from gpu_accelerated_vector_indexing_spark import memo
    from gpu_accelerated_vector_indexing_spark.operators.ivf import multi_query_knn_ivf
    from gpu_accelerated_vector_indexing_spark.operators.knn import fixture_normed

    def batch():
        df = multi_query_knn_ivf(spark, SF_SMOKE, query_ids=(0, 3, 7), k=5, n_probe=2)
        return sorted(tuple(r) for r in df.collect())

    first = batch()
    pinned = fixture_normed.lookup(spark, SF_SMOKE)
    assert pinned is not None and pinned.storageLevel.useMemory
    memo.clear_session_caches(spark)
    assert fixture_normed.lookup(spark, SF_SMOKE) is None
    assert not pinned.storageLevel.useMemory  # unpersisted
    assert batch() == first
    rebuilt = fixture_normed.lookup(spark, SF_SMOKE)
    assert rebuilt is not None and rebuilt is not pinned and rebuilt.storageLevel.useMemory
    assert sorted(tuple(r) for r in rebuilt.collect()) == sorted(tuple(r) for r in pinned.collect())
