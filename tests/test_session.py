"""Session factory: Python workers find the package wherever the calling
script runs from."""

import os
import subprocess
import sys
import textwrap
from pathlib import Path

REPO = str(Path(__file__).resolve().parents[1])


def test_workers_import_package_outside_repo(tmp_path):
    """A script started in another directory, with PYTHONPATH unset, puts
    the package on its own sys.path only; its pandas UDF must still import
    blacklab_spark in the Python workers."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from blacklab_spark.session import get_spark

        def udf(batches):
            from blacklab_spark.codec import decode_ints, encode_ints
            for pdf in batches:
                pdf["y"] = [int(decode_ints(encode_ints([x]))[0]) for x in pdf["x"]]
                yield pdf

        spark = get_spark("local[1]", shuffle_partitions=1)
        rows = spark.range(3).toDF("x").mapInPandas(udf, "x long, y long").collect()
        print(sorted((r.x, r.y) for r in rows))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().splitlines()[-1] == "[(0, 0), (1, 1), (2, 2)]"
