"""__spark_entry__ query ordering: gates first, least-recorded rotation."""


def test_sample_rotation_orders_gates_first_and_rotates(tmp_path, monkeypatch):
    """__spark_entry__ orders queries() least-recorded-first with gates
    leading, so the driver's prefix sample rotates across rounds."""
    import importlib
    import json
    import sys

    sys.path.insert(0, "/root/repo")
    e = importlib.import_module("__spark_entry__")
    order = list(e.queries())
    from vstream_spark.queries import REGISTRY

    assert set(order) == set(REGISTRY)
    gates = [n for n in REGISTRY if n.endswith("_recall") or n.endswith("_gate")]
    # every gate appears before every non-gate
    last_gate = max(order.index(g) for g in gates)
    first_nongate = min(order.index(n) for n in order if n not in gates)
    assert last_gate < first_nongate or len(gates) == len(order)
    # rotation: names recorded in CORRECTNESS files sort after unrecorded
    rot = e._sample_rotation()
    import glob
    import os

    counts = {n: 0 for n in REGISTRY}
    for path in glob.glob("/root/repo/CORRECTNESS_r*.json"):
        for name in json.load(open(path)):
            if name in counts:
                counts[name] += 1
    nongates = [n for n in rot if n not in gates]
    recorded = [counts[n] for n in nongates]
    assert recorded == sorted(recorded)
