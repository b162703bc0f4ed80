"""get_spark's defaults: driver heap bounded by host memory, and Python
workers that import the package from any working directory."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

from realtime_spark import session


def test_default_driver_memory_bounded_by_host(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       16479424 kB\nMemFree:        15000000 kB\n")
    assert session.default_driver_memory(str(meminfo)) == "6034m"  # 3/8 of 15.7 GiB
    meminfo.write_text("MemTotal:       134217728 kB\n")  # 128 GiB: the 48g cap
    assert session.default_driver_memory(str(meminfo)) == "49152m"
    meminfo.write_text("MemTotal:       1048576 kB\n")  # 1 GiB: the 1g floor
    assert session.default_driver_memory(str(meminfo)) == "1024m"
    assert session.default_driver_memory(str(tmp_path / "absent")) == "48g"


def test_pandas_udf_runs_from_foreign_cwd(tmp_path):
    """A driver started outside the repo, with the package on its sys.path
    only (not on PYTHONPATH), still gets workers that start from the
    repo's daemon module and import the package."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {root!r})
        import pandas as pd
        from realtime_spark.session import get_spark

        def where(it):
            import realtime_spark
            for b in it:
                yield pd.DataFrame({{"f": [realtime_spark.__file__] * len(b)}})

        spark = get_spark("foreign_cwd", cpus=1)
        assert spark.conf.get("spark.python.daemon.module") == "realtime_spark.worker_daemon"
        print("FILES", sorted({{r.f for r in spark.range(2).mapInPandas(where, "f string").collect()}}))
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    res = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    want = os.path.join(root, "realtime_spark", "__init__.py")
    assert f"FILES [{want!r}]" in res.stdout
