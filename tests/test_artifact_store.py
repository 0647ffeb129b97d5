"""The artifact store (artifacts.memo): one build per key under driver
threads, session and corpus scoping, and the guard that keeps module-
level memo dicts from growing back outside it."""

from __future__ import annotations

import ast
import sys
import threading
import time
from pathlib import Path
from types import SimpleNamespace

import pytest

from multichannel_commerce_data_pipeline_spark import artifacts as A

PACKAGE = Path(A.__file__).parent


def _session(app: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app))


@pytest.fixture
def store(monkeypatch):
    """An empty store, so fake applications never evict the live test
    session's entries."""
    monkeypatch.setattr(A, "_STORE", {})
    return A._STORE


def test_memo_builds_once_under_threads_at_a_stale_entry(store):
    """8 driver threads reach one key whose only entry belongs to a dead
    application: the stale entry is evicted once, nobody raises, and
    the slow build runs exactly once — every thread gets its value."""
    A.memo(_session("app-dead"), "race", "/sf", lambda: "stale")
    live = _session("app-live")
    builds, errors, got = [], [], []
    barrier = threading.Barrier(8)

    def build():
        builds.append(1)
        time.sleep(0.2)
        return "fresh"

    def worker():
        try:
            barrier.wait()
            got.append(A.memo(live, "race", "/sf", build))
        except Exception as e:  # pragma: no cover - the failure mode
            errors.append(e)

    threads = [threading.Thread(target=worker) for _ in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(builds) == 1
    assert got == ["fresh"] * 8
    assert [k[0] for k in store] == ["app-live"]


def test_memo_rebuilds_for_new_session(store):
    """Cached per-sf_dir DataFrames are bound to the session that built
    them: after a stop/recreate, a plain dict[sf_dir] cache hands back
    a frame on a dead SparkContext. memo keys by the session — same
    session hits the store, a NEW session rebuilds and evicts the dead
    entry (bounded store, no stale frames)."""
    builds = []
    build = lambda tag: lambda: builds.append(tag) or tag  # noqa: E731
    s1 = _session("app-1")
    assert A.memo(s1, "m", "/sf", build("a")) == "a"
    assert A.memo(s1, "m", "/sf", build("b")) == "a"  # store hit
    assert builds == ["a"]
    s2 = _session("app-2")
    assert A.memo(s2, "m", "/sf", build("c")) == "c"  # rebuilt
    assert [k[:3] for k in store] == [("app-2", id(s2), "m")]  # dead evicted


def test_memo_scopes_entries_by_session_and_corpus_content(store, tmp_path):
    """The same (name, sf_dir) builds again for a second session of the
    same application (which keeps the first session's entry), and again
    once the corpus files change (which retires the old version)."""
    (tmp_path / "orders.parquet").write_bytes(b"v1")
    sf = str(tmp_path)
    builds = []

    def build():
        builds.append(1)
        return len(builds)

    s1, s2 = _session("app"), _session("app")
    assert A.memo(s1, "m", sf, build) == 1
    assert A.memo(s2, "m", sf, build) == 2  # sibling session builds its own
    assert A.memo(s1, "m", sf, build) == 1  # ... and s1 keeps its entry
    (tmp_path / "orders.parquet").write_bytes(b"v2 - regenerated")
    assert A.memo(s1, "m", sf, build) == 3  # new corpus version
    assert A.memo(s1, "m", sf, build) == 3
    assert len([k for k in store if k[1] == id(s1)]) == 1  # old one retired
    hits, n_builds = A.stats()["m"]
    assert n_builds >= 3 and hits >= 2


def test_memo_caps_sibling_sessions(store):
    """Same-application sibling sessions keep their own entries, but
    only for the most recent _SAME_APP_SESSION_CAP sessions."""
    sessions = [_session("app") for _ in range(A._SAME_APP_SESSION_CAP + 2)]
    for s in sessions:
        A.memo(s, "m", "/sf", object)
    assert [k[1] for k in store] == [
        id(s) for s in sessions[-A._SAME_APP_SESSION_CAP:]
    ]


def test_memo_retries_after_a_failed_build(store):
    s = _session("app")

    def boom():
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        A.memo(s, "m", "/sf", boom)
    assert A.memo(s, "m", "/sf", lambda: "ok") == "ok"


_MEMO_WORDS = (
    "CACHE", "MEMO", "_DIRS", "PLANS", "FRAMES", "SCANS", "CHAIN", "PERSISTED",
)
_ALLOWED = {"_COL_MEMO", "_STREAM_DIRS"}


def test_no_module_level_memo_dicts_outside_the_store():
    """Per-corpus artifacts live in artifacts.py only: no module of the
    package declares a module-level dict whose name marks it as a
    cache, apart from the process-scoped Column memo and the stream
    scratch-dir retention table."""
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path == Path(A.__file__):
            continue
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign):
                targets, value = [node.target], node.value
            else:
                continue
            is_dict = isinstance(value, ast.Dict) or (
                isinstance(value, ast.Call)
                and isinstance(value.func, ast.Name)
                and value.func.id == "dict"
            )
            for t in targets:
                if (
                    is_dict
                    and isinstance(t, ast.Name)
                    and t.id not in _ALLOWED
                    and any(w in t.id for w in _MEMO_WORDS)
                ):
                    found.append(f"{path.relative_to(PACKAGE)}:{t.id}")
    assert found == []
