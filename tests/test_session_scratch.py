"""Registry scratch lifecycle: every file a registry query writes lies
under its Spark session's SparkFiles root (queries.scratch) and goes when
the session stops — no temp dir outlives the session, and no stored IVF
index is served to a later process."""

from __future__ import annotations

import json
import os
import subprocess
import sys

# the registry queries that write files: sink/reader round trips, the
# layout rewrites, the binary payload dir and both stored IVF indexes
_WRITERS = [
    "src_csv_roundtrip",
    "src_partitioned_roundtrip",
    "layout_compact_identity",
    "layout_bucketed_join",
    "src_binary_ingest",
    "ivf_index_search",
    "ivf_index_append_search",
]

_CHILD = """
import json, os, sys
from pyspark import SparkFiles
from laposte_data_engineering_jedha_spark.queries import queries
from laposte_data_engineering_jedha_spark.session import get_spark

spark = get_spark(app_name="scratch_lifecycle", cpus=2, shuffle_partitions=2)
root = SparkFiles.getRootDirectory()
for name in sys.argv[2:]:
    queries()[name](spark, sys.argv[1]).collect()
written = sorted(os.listdir(root))
spark.stop()
print(json.dumps({"root": root, "written": written, "left": os.path.exists(root)}))
"""


def test_registry_scratch_goes_with_the_session(sf_dir, tmp_path):
    tmp, local = tmp_path / "tmp", tmp_path / "local"
    tmp.mkdir()
    local.mkdir()
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {
        **os.environ,
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(local),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
    }
    out = subprocess.run(
        [sys.executable, "-c", _CHILD, sf_dir, *_WRITERS],
        cwd=repo,
        env=env,
        capture_output=True,
        text=True,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert sorted(e for e in os.listdir(tmp) if e.startswith("laposte_")) == []
    assert got["root"].startswith(str(local))
    assert got["written"], "the queries wrote nothing under the session root"
    assert not got["left"], "the session root survived spark.stop()"
    assert not os.path.exists(got["root"])
