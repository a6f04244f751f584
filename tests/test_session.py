"""Session factory: Python workers import the package whatever the
driver's working directory."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_import_package_from_another_cwd(tmp_path):
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from oracle_to_oracle_data_integration_pipeline_spark.session import get_spark

        def kernel(batches):
            import oracle_to_oracle_data_integration_pipeline_spark as pkg
            for b in batches:
                yield b.assign(pkg=pkg.__name__)

        spark = get_spark(cpus=1, extra_conf={{"spark.ui.showConsoleProgress": "false"}})
        rows = spark.range(2).mapInPandas(kernel, "id long, pkg string").collect()
        print("PKG", sorted({{r.pkg for r in rows}}))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "PKG ['oracle_to_oracle_data_integration_pipeline_spark']" in proc.stdout
