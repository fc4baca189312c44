"""The per-session plan memo (``memo.memo``): bounded LRU, tied to the
session's lifetime, the only driver-side memo in the codebase."""

import ast
import gc
import os
import subprocess
import sys
import types
import weakref
from pathlib import Path

from test_quality_clf import FIXTURE, SF_DIR

from action_pdf_accessibility_paddle_docker_spark import memo as M

ROOT = Path(__file__).resolve().parent.parent


def _unreachable():
    raise AssertionError("memo rebuilt an entry it should still hold")


def test_memo_is_bounded_lru():
    """Past ``MAX_ENTRIES`` the least recently used entry is evicted: the
    size stays at the cap and the most recently used entry survives."""
    session = types.SimpleNamespace()  # the memo only needs an object to live on
    cap = M.MAX_ENTRIES
    for i in range(cap):
        M.memo(session, ("synthetic", i), lambda i=i: i)
    for i in range(cap, 3 * cap):
        assert M.memo(session, ("synthetic", 0), _unreachable) == 0
        M.memo(session, ("synthetic", i), lambda i=i: i)
        assert len(vars(session)[M._ATTR]) == cap
    assert M.memo(session, ("synthetic", 0), _unreachable) == 0
    assert M.memo(session, ("synthetic", 3 * cap - 1), _unreachable) == 3 * cap - 1
    assert M.memo(session, ("synthetic", 1), lambda: "rebuilt") == "rebuilt"


def _build_plans(session):
    from action_pdf_accessibility_paddle_docker_spark.operators import pii as P
    from action_pdf_accessibility_paddle_docker_spark.operators import quality_clf as C
    from action_pdf_accessibility_paddle_docker_spark.plans import queries as Q

    Q.REGISTRY["q_dedup_exact"][0](session, SF_DIR)  # a _read-based query
    docs = Q._read(session, SF_DIR, "documents")
    P.pii_stats(docs)  # a _widen path
    weights, bias = C.load_classifier(session, FIXTURE)
    C.score_documents(docs, weights, bias=bias)
    assert len(vars(session)[M._ATTR]) >= 3


def test_dropped_session_is_collectable(spark):
    """Memoizing plans for a session does not keep it alive: once the
    caller drops it, the session object is garbage."""
    session = spark.newSession()
    _build_plans(session)
    # pyspark's RDD.toDF patch closes over the newest session: move it on
    spark.newSession()
    ref = weakref.ref(session)
    del session
    gc.collect()
    assert ref() is None


_RELAUNCH = """
import sys

from pyspark import SparkContext
from pyspark.sql import SparkSession

from action_pdf_accessibility_paddle_docker_spark.plans.queries import REGISTRY

build = REGISTRY["q_quality_gate"][0]
counts = []
for _ in range(2):
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.driver.memory", "1g")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    counts.append(build(spark, sys.argv[1]).count())
    spark.stop()
    # end the JVM too; the next session launches a new one
    gw = SparkContext._gateway
    SparkContext._gateway = SparkContext._jvm = None
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=60)
print(counts)
"""


def test_quality_gate_builds_after_jvm_relaunch():
    """A query built in one session builds and runs again in a new session
    on a relaunched JVM (no Column handle from the dead JVM is reused). Runs
    in a child process so the shared session is untouched."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), env.get("PYTHONPATH")) if p
    )
    r = subprocess.run(
        [sys.executable, "-c", _RELAUNCH, SF_DIR],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    first, second = ast.literal_eval(r.stdout.strip().splitlines()[-1])
    assert first == second > 0


# the pure-Python per-worker caches: bounded, keyed on strings, no Spark state
_ALLOWED_CACHES = {
    ("action_pdf_accessibility_paddle_docker_spark/operators/kernels.py", "fnv1a32"),
    ("action_pdf_accessibility_paddle_docker_spark/functions/mathml.py", "latex_to_mathml"),
}
# module-level containers that are not memos
_ALLOWED_CONTAINERS = {
    ("action_pdf_accessibility_paddle_docker_spark/plans/queries.py", "REGISTRY"),
}
_EMPTY_CALLS = {"dict", "list", "set", "OrderedDict", "defaultdict",
                "WeakKeyDictionary", "WeakValueDictionary"}


def _cache_uses(tree):
    """Each use of a ``functools`` cache: the name of the function it
    decorates, else its line."""
    owners = {}
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            for dec in node.decorator_list:
                owners.update((id(sub), node.name) for sub in ast.walk(dec))
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Name) and node.id == "lru_cache"
            or isinstance(node, ast.Attribute) and node.attr in ("lru_cache", "cache")
            and isinstance(node.value, ast.Name) and node.value.id.endswith("functools")
            or isinstance(node, ast.ImportFrom) and node.module == "functools"
            and any(a.name in ("lru_cache", "cache") for a in node.names)
        ):
            yield owners.get(id(node), f"line {node.lineno}")


def _is_empty_container(node) -> bool:
    if isinstance(node, (ast.Dict, ast.List, ast.Set)):
        return not (node.keys if isinstance(node, ast.Dict) else node.elts)
    if isinstance(node, ast.Call) and not node.args and not node.keywords:
        f = node.func
        return (f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)) in _EMPTY_CALLS
    return False


def test_one_memo_scheme():
    """Driver-side memoization goes through ``memo.memo`` only: no
    ``functools`` cache outside the allowed per-worker caches, no module-level
    container filled at run time, no function rebinding module state."""
    caches, containers, rebinds = set(), set(), set()
    for d in ("action_pdf_accessibility_paddle_docker_spark", "jobs"):
        for path in sorted((ROOT / d).rglob("*.py")):
            rel = path.relative_to(ROOT).as_posix()
            tree = ast.parse(path.read_text())
            caches.update((rel, use) for use in _cache_uses(tree))
            rebinds.update(
                (rel, node.lineno) for node in ast.walk(tree) if isinstance(node, ast.Global)
            )
            for node in tree.body:
                if isinstance(node, (ast.Assign, ast.AnnAssign)) and node.value is not None \
                        and _is_empty_container(node.value):
                    targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                    containers.update((rel, ast.unparse(t)) for t in targets)
    assert caches - _ALLOWED_CACHES == set()
    assert containers - _ALLOWED_CONTAINERS == set()
    assert rebinds == set()
