"""The per-session store (queries.session_cache): memo entries, table
handles, tune() and gate decisions are scoped to one session, and no
module of the package grows its own cache or id(session) key again."""

from __future__ import annotations

import ast
import pathlib
import re

from ed_fi_x_tpdm_data_ingestion_poc_spark import session as session_mod
from ed_fi_x_tpdm_data_ingestion_poc_spark.queries import (
    memo,
    session_cache,
    spread_scan,
)
from ed_fi_x_tpdm_data_ingestion_poc_spark.session import tune
from ed_fi_x_tpdm_data_ingestion_poc_spark.tables import table

PKG = (
    pathlib.Path(__file__).resolve().parent.parent
    / "ed_fi_x_tpdm_data_ingestion_poc_spark"
)

# process-wide on purpose: BUILD_TIMES is a report and QUERIES the registry,
# _replay_cache holds on-disk replay dirs valid for any session, and
# _STUB_CACHE is the one REST stub server per process
_ALLOWED_MODULE_DICTS = {
    ("queries/__init__.py", "BUILD_TIMES"),
    ("queries/__init__.py", "QUERIES"),
    ("streaming/replay.py", "_replay_cache"),
    ("queries/pipeline_q.py", "_STUB_CACHE"),
}
_SESSIONISH = re.compile(r"spark|session|context|\bsc\b", re.IGNORECASE)


def test_memo_hits_in_its_session_and_rebuilds_in_another(spark):
    s1, s2 = spark.newSession(), spark.newSession()
    builds = []

    def build():
        builds.append(1)
        return object()

    a = memo(s1, ("t_scope",), build)
    assert memo(s1, ("t_scope",), build) is a  # hit: no second build
    assert len(builds) == 1
    assert ("t_scope",) not in session_cache(s2)  # s1's entry is invisible
    b = memo(s2, ("t_scope",), build)
    assert b is not a and len(builds) == 2


def test_table_handles_are_planned_against_their_own_session(spark, sf_dir):
    s1, s2 = spark.newSession(), spark.newSession()
    n1 = table(s1, sf_dir, "nation")
    assert table(s1, sf_dir, "nation") is n1
    n2 = table(s2, sf_dir, "nation")
    assert n2 is not n1
    assert n1.sparkSession is s1 and n2.sparkSession is s2


def test_tune_sets_conf_once_per_session(spark):
    key = "spark.sql.session.timeZone"
    s1 = spark.newSession()
    s1.conf.set(key, "America/New_York")
    tune(s1)
    assert s1.conf.get(key) == "UTC"
    # tuned already: a second call sets nothing, so the override stays
    s1.conf.set(key, "Asia/Tokyo")
    tune(s1)
    assert s1.conf.get(key) == "Asia/Tokyo"
    # a new session on the same context is tuned afresh
    s2 = spark.newSession()
    s2.conf.set(key, "America/New_York")
    tune(s2)
    assert s2.conf.get(key) == "UTC"
    assert s1.conf.get(key) == "Asia/Tokyo"


def test_spread_scan_samples_memory_once_per_session(spark, monkeypatch):
    """Two distinct under-split plans in one session get the same spread
    width even when MemAvailable changes between their first calls."""
    s = spark.newSession()
    samples = [12.0, 96.0]
    monkeypatch.setattr(
        session_mod, "mem_available_gb", lambda: samples.pop(0) if samples else 96.0
    )
    # factor 100 puts the core target above both memory caps
    # (max(8, 12 / 1.5) = 8 lanes and 96 / 1.5 = 64 lanes)
    a = spread_scan(s.range(0, 10, numPartitions=1), factor=100)
    b = spread_scan(s.range(0, 20, numPartitions=1), factor=100)
    assert a.rdd.getNumPartitions() == 8
    assert b.rdd.getNumPartitions() == 8


def _package_modules():
    for path in sorted(PKG.rglob("*.py")):
        yield path.relative_to(PKG).as_posix(), ast.parse(path.read_text())


def _is_dict_literal_or_call(node: ast.expr) -> bool:
    if isinstance(node, ast.Dict):
        return not node.keys
    if isinstance(node, ast.Call):
        f = node.func
        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
        return name in ("dict", "OrderedDict")
    return False


def test_no_module_level_dict_caches():
    found = []
    for rel, tree in _package_modules():
        for stmt in tree.body:
            if isinstance(stmt, ast.Assign):
                targets, value = stmt.targets, stmt.value
            elif isinstance(stmt, ast.AnnAssign) and stmt.value is not None:
                targets, value = [stmt.target], stmt.value
            else:
                continue
            if not _is_dict_literal_or_call(value):
                continue
            for t in targets:
                name = ast.unparse(t)
                if (rel, name) not in _ALLOWED_MODULE_DICTS:
                    found.append(f"{rel}:{stmt.lineno} {name}")
    assert not found, f"module-level dict caches (use queries.session_cache): {found}"


def test_no_id_of_a_session_or_context():
    found = []
    for rel, tree in _package_modules():
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id == "id"
                and any(_SESSIONISH.search(ast.unparse(a)) for a in node.args)
            ):
                found.append(f"{rel}:{node.lineno} {ast.unparse(node)}")
    assert not found, f"id() of a session or context (use queries.session_cache): {found}"


def _memo_key_prefix(call: ast.Call) -> str | None:
    """The constant head of a memo() call's key tuple: the string, or the
    literal start of an f-string (f"ks_screen_dist_a{alpha}" ->
    "ks_screen_dist_a"); None when the head is not written out."""
    key = call.args[1] if len(call.args) > 1 else None
    head = key.elts[0] if isinstance(key, ast.Tuple) and key.elts else None
    if isinstance(head, ast.JoinedStr) and head.values:
        head = head.values[0]
    if isinstance(head, ast.Constant) and isinstance(head.value, str):
        return head.value
    return None


def test_each_memo_key_is_built_at_one_call_site():
    """One builder per artifact: two memo() sites sharing a key would let
    whichever query runs first decide how (and whether eagerly) the
    artifact is built. A shared artifact gets one module-level function
    (e.g. llm._exact_pairs) that every consumer calls."""
    sites: dict[str, list[str]] = {}
    unnamed = []
    for rel, tree in _package_modules():
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name != "memo":
                continue
            prefix = _memo_key_prefix(node)
            if prefix is None:
                unnamed.append(f"{rel}:{node.lineno}")
            else:
                sites.setdefault(prefix, []).append(f"{rel}:{node.lineno}")
    assert not unnamed, f"memo() keys must start with a literal name: {unnamed}"
    shared = {k: v for k, v in sites.items() if len(v) > 1}
    assert not shared, f"memo() keys built at more than one call site: {shared}"
