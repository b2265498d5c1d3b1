"""The session factory's JVM options: a local-mode driver JVM runs with
one C1 and one C2 compiler thread, a caller's own
``spark.driver.extraJavaOptions`` survive beside it, and a cluster
master gets no JIT option."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from efiche_data_pipeline_spark.session import _local_jvm_conf

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_REPORT_INPUT_ARGUMENTS = """
import json
from efiche_data_pipeline_spark.session import get_spark

spark = get_spark(
    master="local[1]",
    extra_conf={"spark.driver.extraJavaOptions": "-XX:-UsePerfData"},
)
bean = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
print(json.dumps(list(bean.getInputArguments())))
spark.stop()
"""


def test_suite_jvm_runs_one_c2_compiler_thread(spark):
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    option = bean.getVMOption("CICompilerCount")
    assert option.getValue() == "2"
    assert option.getOrigin().toString() == "VM_CREATION"


def test_local_jit_option_is_prepended_to_callers_java_options():
    """A fresh JVM, launched by ``get_spark`` with the caller's own
    ``extraJavaOptions`` (as perfbench passes them): both reach the
    JVM's command line."""
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "512m"}
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p
    )
    out = subprocess.run(
        [sys.executable, "-c", _REPORT_INPUT_ARGUMENTS],
        env=env,
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    )
    args = json.loads(out.stdout.strip().splitlines()[-1])
    assert "-XX:CICompilerCount=2" in args
    assert "-XX:-UsePerfData" in args


@pytest.mark.parametrize("master", ["local", "local[1]", "local[4]", "local[*]"])
def test_local_master_gets_the_compiler_thread_cap(master):
    assert _local_jvm_conf(master) == {
        "spark.driver.defaultJavaOptions": "-XX:CICompilerCount=2"
    }


@pytest.mark.parametrize(
    "master",
    ["spark://h:7077", "yarn", "k8s://https://h:6443", "local-cluster[2,1,1024]"],
)
def test_cluster_master_gets_no_jit_option(master):
    assert _local_jvm_conf(master) == {}
