"""Engine code reaches Python workers by value: the ``gibbon_spark``
package is registered with cloudpickle, so a worker that cannot import
``gibbon_spark`` still runs every UDF. Both tests run a fresh Python
process in ``tmp_path``, where the package is not on the import path."""

from __future__ import annotations

import json
import os
import struct
import subprocess
import sys

from pyspark import cloudpickle

from gibbon_spark.codec import gorilla
from gibbon_spark.operators import similarity
from tests.conftest import REPO, SF_SMALL

# the reference's golden bit string for the values [11.0, 10.0]
# (double_stream.rs, test_dbl_reuse_window_golden)
GOLDEN_BITS = (
    "0100000000100110000000000000000000000000000000000000000000000000"
    "1000000000000001"
)

LOADER = r"""
import importlib.util, pickle, struct, sys

import numpy as np

assert importlib.util.find_spec("gibbon_spark") is None, "gibbon_spark importable"
decode_values, unit_rows, payload, nbits = pickle.loads(sys.stdin.buffer.read())
bits = [struct.unpack("<Q", struct.pack("<d", v))[0] for v in decode_values(payload, nbits)]
print(bits, unit_rows(np.array([[3.0, 4.0], [0.0, 0.0]])).tolist())
"""

DRIVER = r"""
import json, re, sys

repo, sf = sys.argv[1], sys.argv[2]
sys.path.insert(0, repo)
import __spark_entry__ as entry
from gibbon_spark.session import get_spark

spark = get_spark("foreign_cwd", shuffle_partitions=4)
python_stage = re.compile(r"Python|InPandas|InArrow")
ran, failed = [], {}
for name, fn in entry.queries().items():
    try:
        df = fn(spark, sf)
        if python_stage.search(df._jdf.queryExecution().executedPlan().toString()):
            ran.append(name)
            df.write.format("noop").mode("overwrite").save()
    except Exception as e:
        failed[name] = str(e)[-400:]
spark.stop()
print(json.dumps({"ran": ran, "failed": failed}))
"""


def _foreign_env() -> dict[str, str]:
    """This process's environment without PYTHONPATH, so nothing but the
    current directory could put the repo on a child's import path."""
    return {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}


def test_codec_and_similarity_helpers_load_without_the_package(tmp_path):
    padded = GOLDEN_BITS + "0" * (-len(GOLDEN_BITS) % 8)
    payload = int(padded, 2).to_bytes(len(padded) // 8, "big")
    blob = cloudpickle.dumps(
        (gorilla.decode_values, similarity._unit_rows, payload, len(GOLDEN_BITS))
    )
    proc = subprocess.run(
        [sys.executable, "-c", LOADER],
        input=blob,
        cwd=tmp_path,
        env=_foreign_env(),
        capture_output=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr.decode()[-2000:]
    bits = [struct.unpack("<Q", struct.pack("<d", v))[0] for v in (11.0, 10.0)]
    assert proc.stdout.decode().strip() == f"{bits} [[0.6, 0.8], [0.0, 0.0]]"


def test_python_stage_queries_run_from_a_foreign_cwd(tmp_path):
    """Every registry query with a Python stage in its executed plan runs
    at sf0.001 from a driver whose workers cannot import gibbon_spark.
    Every query is built there too, which runs the Python stages that a
    build already executes (streaming replays, checkpoints)."""
    env = _foreign_env()
    # a second JVM beside the suite's own: keep its heap small
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", DRIVER, REPO, SF_SMALL],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["failed"] == {}
    # the codec queries whose UDF once imported gibbon_spark on the worker
    assert {
        "codec_xoror_winner",
        "codec_xoror_bits",
        "gorilla_leadtrail_value_parity",
        "sim_topk_lsh",
    } <= set(out["ran"]), out["ran"]
