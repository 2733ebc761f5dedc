"""The engine session's JIT policy, the compiler-thread CPU readings of
``Counters.compile_report()``, and ``scripts/jit_profile.py``."""

from __future__ import annotations

import importlib.util
import os

from gomrjob_spark.counters import Counters

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: HotSpot's C2 (tier-4) thresholds in the engine's driver JVM: 4x the
#: defaults of 5000, 600 and 15000.
C2_THRESHOLDS = {
    "Tier4InvocationThreshold": "20000",
    "Tier4MinInvocationThreshold": "2400",
    "Tier4CompileThreshold": "30000",
}


def _vm_option(spark, name: str):
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.com.sun.management.HotSpotDiagnosticMXBean._java_lang_class
    )
    return bean.getVMOption(name)


def test_driver_runs_with_raised_c2_thresholds(spark):
    assert {n: _vm_option(spark, n).getValue() for n in C2_THRESHOLDS} == C2_THRESHOLDS
    # the back-edge (OSR) and tier-3 thresholds keep HotSpot's defaults
    for name in ("Tier4BackEdgeThreshold", "Tier3InvocationThreshold", "Tier3CompileThreshold"):
        assert _vm_option(spark, name).getOrigin().toString() == "DEFAULT", name
    # under the key a caller's extraJavaOptions adds to, not replaces
    conf = spark.sparkContext.getConf()
    default = conf.get("spark.driver.defaultJavaOptions", "").split()
    extra = conf.get("spark.driver.extraJavaOptions", "") or ""
    for name, value in C2_THRESHOLDS.items():
        assert f"-XX:{name}={value}" in default
        assert name not in extra


def test_compiler_cpu_readings_never_decrease(spark):
    c = Counters(spark)
    before = c.compile_report()
    spark.range(200).selectExpr("id % 11 AS k", "id * 5 AS v").groupBy("k").max("v").collect()
    after = c.compile_report()
    for key in ("c1_cpu_s", "c2_cpu_s"):
        assert key in before and key in after
        assert 0 <= before[key] <= after[key], key


def test_jit_profile_smoke(spark, sf_dir):
    spec = importlib.util.spec_from_file_location("jit_profile", os.path.join(ROOT, "scripts", "jit_profile.py"))
    jit_profile = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(jit_profile)

    records = list(jit_profile.profile(spark, sf_dir, ["url_canonicalize"], runs=2))
    assert [(r["query"], r["run"]) for r in records] == [("url_canonicalize", 1), ("url_canonicalize", 2)]
    for r in records:
        assert r["wall_s"] > 0 and r["cpu_s"] >= 0 and r["executor_cpu_s"] >= 0
        assert r["janino_compiles"] >= 0
        assert r["c1_cpu_s"] >= 0 and r["c2_cpu_s"] >= 0
