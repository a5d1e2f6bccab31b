"""spark-submit packaging helper.

The north rule ships the pipeline as ``spark-submit --py-files``
packages. ``build_pyfiles_zip`` produces the zip; a cluster run is then

    spark-submit --py-files multivac_spark.zip job.py

where ``job.py`` calls ``multivac_spark.plans.pipeline.run_materialized``
(the declared pipeline under the resumable lineage stager).
"""

from __future__ import annotations

import os
import zipfile


def build_pyfiles_zip(out_path: str = "multivac_spark.zip") -> str:
    """Zip the multivac_spark package for --py-files distribution."""
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    repo_root = os.path.dirname(pkg_root)
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg_root):
            if "__pycache__" in dirpath:
                continue
            for fn in filenames:
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(dirpath, fn)
                zf.write(full, os.path.relpath(full, repo_root))
    return out_path
