"""Guards on the repo tooling itself (driver-window rotation, the scale
probe's inflated tables and probe table)."""

from __future__ import annotations

import importlib.util
import os

import pytest

_SPEC = importlib.util.spec_from_file_location(
    "rotate_names",
    os.path.join(os.path.dirname(__file__), "..", "tools", "rotate_names.py"),
)
rotate_names = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(rotate_names)

_SPEC = importlib.util.spec_from_file_location(
    "scale_probe",
    os.path.join(os.path.dirname(__file__), "..", "tools", "scale_probe.py"),
)
scale_probe = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(scale_probe)


def test_rotation_rejects_cascading_mapping():
    """ADVICE r06: a combined mapping where one rule's output is another
    rule's key (q50a→qz50a then qz50a→q50a) must be rejected — applied
    sequentially it would cascade; applied in one pass it would be
    order-ambiguous."""
    with pytest.raises(SystemExit, match="collides"):
        rotate_names.apply(
            {"q50a_exact_dedup": "qz50a_exact_dedup",
             "qz50a_exact_dedup": "q50a_exact_dedup"}
        )


def test_rotation_single_pass_no_cascade_no_prefix_bleed(tmp_path, monkeypatch):
    """One regex pass with identifier boundaries: a fresh rename's output
    must never be re-matched by a later rule, and a name that prefixes a
    longer identifier must be left alone. Fixture names use a q9xx range
    that is NOT in the live registry, so real window rotations sweeping
    this repo's files can never rewrite the fixtures themselves (a round-
    10 rotation corrupted the previous q10x-based fixture into a
    self-contradiction)."""
    f = tmp_path / "sample.py"
    f.write_text(
        "a = q90_join_chain\n"
        "b = q901_nightly_rollup\n"    # q90... prefix of a different name
        "c = q902_pq_ann_ok\n"
    )
    monkeypatch.setattr(rotate_names, "REPO", str(tmp_path))
    rotate_names.apply(
        {"q90_join_chain": "qz90_join_chain",
         "q902_pq_ann_ok": "qz902_pq_ann_ok"}
    )
    out = f.read_text()
    assert "qz90_join_chain" in out
    assert "q901_nightly_rollup" in out       # untouched despite q90 prefix
    assert "qz902_pq_ann_ok" in out
    assert "q902_pq_ann_ok" not in out


def test_oracle_check_rejects_unknown_names():
    """VERDICT r13 'What's wrong' #3: a sweep invoked with misspelled
    query names used to silently check nothing and print '0 failures'.
    Unknown names must be a hard error (exit code 2, names listed on
    stderr) BEFORE any Spark session spins up."""
    import subprocess
    import sys as _sys

    proc = subprocess.run(
        [
            _sys.executable,
            os.path.join(
                os.path.dirname(__file__), "..", "tools", "oracle_check.py"
            ),
            "/root/testdata/sf0.001",
            "q999_does_not_exist",
            "qz998_typo",
        ],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 2, (proc.returncode, proc.stdout, proc.stderr)
    assert "q999_does_not_exist" in proc.stderr
    assert "qz998_typo" in proc.stderr
    assert "0 failures" not in proc.stdout


def test_scale_probe_inflation_is_disjoint(spark, sf_dir, tmp_path):
    """Factor 2: copied tables hold exactly 2x rows and region/nation 1x;
    the key ranges of the two copies are disjoint, so the
    lineitem-orders-customer join grows exactly 2x; no document token
    is shared across copies; a layout rewrites its own table and reads
    the rest through links to the uniform tables."""
    from pyspark.sql import functions as F

    from ed_fi_x_tpdm_data_ingestion_poc_spark.tables import TABLE_NAMES, table

    uni = scale_probe.inflate(spark, sf_dir, str(tmp_path / "uniform"), 2)
    for name in TABLE_NAMES:
        n = table(spark, sf_dir, name).count()
        k = 2 if name in scale_probe.KEYS else 1
        assert table(spark, uni, name).count() == k * n, name
    for name, keys in scale_probe.KEYS.items():
        df = table(spark, uni, name)
        for key in keys:
            copy = F.floor(F.col(key) / scale_probe.OFFSET).alias("copy")
            r = df.groupBy(copy).agg(F.min(key), F.max(key)).orderBy("copy").collect()
            assert [x[0] for x in r] == [0, 1], (name, key)
            assert r[0][2] < r[1][1], (name, key)

    def joined(d):
        li, o, c = (table(spark, d, t) for t in ("lineitem", "orders", "customer"))
        return (li.join(o, li.l_orderkey == o.o_orderkey)
                .join(c, o.o_custkey == c.c_custkey).count())

    assert joined(uni) == 2 * joined(sf_dir) > 0
    docs = table(spark, uni, "documents")
    toks = docs.select(
        F.floor(F.col("doc_id") / scale_probe.OFFSET).alias("copy"),
        F.explode(F.split("text", " ")).alias("tok"),
    ).where(F.col("tok") != "").distinct()
    shared = toks.groupBy("tok").agg(F.countDistinct("copy").alias("n"))
    assert shared.where(F.col("n") > 1).count() == 0

    hot = scale_probe.inflate(
        spark, sf_dir, str(tmp_path / "hot_user"), 2, "hot_user", uni
    )
    ev = table(spark, hot, "events")
    assert ev.where(F.col("user_id") == 424242).count() == (
        table(spark, sf_dir, "events").count()
    )
    assert joined(hot) == joined(uni)


def test_scale_probe_maps_every_probe_to_a_registered_query():
    """Every probe runs a registered query (the names rotate between q and
    qz with the rest of the repo) on a declared layout."""
    from ed_fi_x_tpdm_data_ingestion_poc_spark.queries import all_queries

    names = set(all_queries())
    for probe, (query, layout) in scale_probe.PROBES.items():
        assert query in names, (probe, query)
        assert layout in scale_probe.LAYOUTS, (probe, layout)


def test_scale_probe_citations_name_known_probes():
    """Docstrings that cite a measurement as `tools/scale_probe.py <probe>`
    must name a probe the tool still runs."""
    import re

    pkg = os.path.join(
        os.path.dirname(__file__), "..", "ed_fi_x_tpdm_data_ingestion_poc_spark"
    )
    cited = set()
    for root, _dirs, files in os.walk(pkg):
        for f in files:
            if f.endswith(".py"):
                text = open(os.path.join(root, f)).read()
                cited |= set(re.findall(r"tools/scale_probe\.py[\s#]*(\w+)", text))
    assert cited and cited <= set(scale_probe.PROBES), cited - set(scale_probe.PROBES)
