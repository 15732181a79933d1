"""The query suite must call every ``functions/`` module but the ones its
docstring names, and each query the module it stands for.  Runs the suite
on generated sf0.001 tables with a local Spark session (about a minute)."""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, suite  # noqa: E402

PKG = "flink_invoice_processor_spark.functions."
LEFT_OUT = {"cdc", "fsops", "graph", "lsh_index", "quality", "retrieval"}


def test_suite_calls_every_functions_module_but_the_left_out(tmp_path):
    os.environ["PYTHONPATH"] = ROOT
    from flink_invoice_processor_spark.functions import suite_cache
    from flink_invoice_processor_spark.plans.queries import ORACLES, QUERIES
    from flink_invoice_processor_spark.session import get_spark

    sf_dir = str(tmp_path / "sf")
    gen.write_tables(sf_dir, 1, 0.001)
    spark = get_spark("perfbench-coverage", master="local[2]", shuffle_partitions=2,
                      extra_conf={"spark.driver.memory": "2g"})
    called: dict[str, set] = {}

    def run(name):
        mods = called.setdefault(name, set())

        def profile(frame, event, arg):
            mod = frame.f_globals.get("__name__", "")
            if event == "call" and mod.startswith(PKG):
                mods.add(mod[len(PKG):])

        sys.setprofile(profile)
        try:
            QUERIES[name](spark, sf_dir).count()
        finally:
            sys.setprofile(None)

    suite_cache.enable()
    try:
        for name, _ in suite.SUITE:
            run(name)
    finally:
        suite_cache.disable()
        spark.stop()
    modules = {f[:-3] for f in os.listdir(os.path.join(ROOT, *PKG.split(".")[:-1]))
               if f.endswith(".py") and f != "__init__.py"}
    assert set().union(*called.values()) == modules - LEFT_OUT
    for name, group in suite.SUITE:
        assert name in ORACLES
        if group.startswith("functions."):
            assert group.split(".", 1)[1] in called[name], (name, called[name])
    assert [q for q, _ in suite.SUITE] == sorted(q for q, _ in suite.SUITE)
