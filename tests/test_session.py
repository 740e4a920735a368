"""Session factory: a driver that imports the package through a
``sys.path`` insert, with no PYTHONPATH, still runs Python stages (the
workers' daemon module is the package's ``daemon_preload``)."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_sys_path_import_runs_python_stage_without_pythonpath(tmp_path):
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from odsc_agentic_ai_summit_2025_spark.session import get_spark

        spark = get_spark(master="local[1]", shuffle_partitions=1,
                          extra_conf={{"spark.driver.memory": "1g"}})

        def plus_one(batches):
            import pyarrow as pa
            import pyarrow.compute as pc

            for b in batches:
                yield pa.record_batch({{"id": pc.add(b.column(0), 1)}})

        rows = spark.range(3).mapInArrow(plus_one, "id long").collect()
        print(sorted(r.id for r in rows))
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_LOCAL_DIRS"] = str(tmp_path)
    # the cwd is outside the repo, so nothing but the session's own
    # configuration can put the package on the workers' path
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout.strip().splitlines()[-1] == "[1, 2, 3]"
