"""Dump and compare the ANN memo artifacts of two source trees.

The six ANN queries (qz51b, qz51c, qz102, qz103, q295, qz112) build their
codebooks, indexes and query indexes once as memo() artifacts. A change to
the search or encoding code must leave every artifact, every recall value
and every query result value-identical; this tool checks that.

Usage:
    python tools/ann_artifacts.py dump TREE SF_DIR OUT.pkl
    python tools/ann_artifacts.py compare A.pkl B.pkl

`dump` imports the engine package from TREE (e.g. a `git archive` copy of
the parent commit), runs the six queries in one session and pickles their
results, the recall value behind each (every recall_at_k plan they
build), the numpy models and the DataFrame artifacts as sorted row lists.
`compare` prints SAME/DIFF per item (models under np.array_equal) and
exits 1 on any difference.
"""

from __future__ import annotations

import pickle
import sys

QUERIES = (
    "qz51b_ann_lsh_ok", "qz51c_ann_ivf_ok", "qz102_pq_ann_ok",
    "qz103_ivfpq_ann_ok", "q295_incremental_ann_index", "qz112_semdedup_ok",
)
LABELS = (
    "ivf_codebook", "pq_codebooks", "ivfpq_model", "lsh_index",
    "lsh_queries", "ivf_index", "ivf_queries", "pq_codes", "pq_query_luts",
    "ivfpq_index", "ivfpq_queries", "sem_pairs",
)


def _rows(v):
    if isinstance(v, (list, tuple)):
        return tuple(_rows(x) for x in v)
    return v


def dump(tree: str, sf_dir: str, out: str) -> None:
    sys.path.insert(0, tree)
    import numpy as np

    from ed_fi_x_tpdm_data_ingestion_poc_spark.operators import similarity
    from ed_fi_x_tpdm_data_ingestion_poc_spark.queries import all_queries, session_cache
    from ed_fi_x_tpdm_data_ingestion_poc_spark.session import get_spark

    recall_plans = []
    recall_at_k = similarity.recall_at_k

    def recording(*args, **kwargs):
        plan = recall_at_k(*args, **kwargs)
        recall_plans.append(plan)
        return plan

    similarity.recall_at_k = recording
    spark = get_spark()
    specs = all_queries()
    results, recalls = {}, {}
    for name in QUERIES:
        recall_plans.clear()
        results[name] = [tuple(r) for r in specs[name].build(spark, sf_dir).collect()]
        recalls[name] = [p.first()["recall"] for p in recall_plans]
        print(name, results[name], "recall", recalls[name], flush=True)
    arts = {}
    for key, v in session_cache(spark).items():
        label = key[0] if isinstance(key, tuple) and key else None
        if not isinstance(label, str) or not (label in LABELS or label.startswith("inc_")):
            continue
        if isinstance(v, (np.ndarray, tuple)):
            arts[label] = ("model", v if isinstance(v, tuple) else (v,))
        else:
            arts[label] = ("rows", (v.columns, sorted(_rows(tuple(r)) for r in v.collect())))
    with open(out, "wb") as f:
        pickle.dump({"results": results, "recalls": recalls, "arts": arts}, f)
    print(f"wrote {out}: {len(arts)} artifacts")


def compare(a_path: str, b_path: str) -> int:
    import numpy as np

    dumps = []
    for path in (a_path, b_path):
        with open(path, "rb") as f:
            dumps.append(pickle.load(f))
    a, b = dumps
    diffs = 0
    for item in ("results", "recalls"):
        same = a[item] == b[item]
        diffs += not same
        print(f"{item:22s} {'SAME' if same else 'DIFF'}")
    for label in sorted(set(a["arts"]) | set(b["arts"])):
        if label not in a["arts"] or label not in b["arts"]:
            same = False
        else:
            (kind, va), (_, vb) = a["arts"][label], b["arts"][label]
            if kind == "model":
                same = len(va) == len(vb) and all(map(np.array_equal, va, vb))
            else:
                same = va == vb
        diffs += not same
        print(f"{label:22s} {'SAME' if same else 'DIFF'}")
    print(f"{diffs} differences")
    return 1 if diffs else 0


if __name__ == "__main__":
    cmd, *args = sys.argv[1:] or ["help"]
    if cmd == "dump" and len(args) == 3:
        dump(*args)
    elif cmd == "compare" and len(args) == 2:
        sys.exit(compare(*args))
    else:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
