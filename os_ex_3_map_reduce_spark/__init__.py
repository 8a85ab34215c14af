"""PySpark-native analytics engine with the query and data-processing
capabilities of the reference ``lappazos/OS_Ex_3_Map_Reduce`` (a
multi-threaded C++ MapReduce framework, HUJI OS course Ex3; see SURVEY.md).

The reference's entire public surface — ``startMapReduceJob`` /
``emit2`` / ``emit3`` / ``waitForJob`` / ``getJobState`` /
``closeJobHandle`` [R:MapReduceFramework.h] — is re-expressed
Spark-first in :mod:`.operators.map_reduce` and :mod:`.operators.job`.
Everything else (relational queries, dedup, similarity search, text
analysis, streaming) is the mandated extension surface built on the
DataFrame/SQL API so Catalyst + Tungsten pick the physical strategy.
"""

__version__ = "0.1.0"

import os as _os

from .session import get_spark, ensure_session_confs  # noqa: F401

# PySpark sets SPARK_REUSE_WORKER in its worker processes only; the
# driver's zipimport stays the stdlib's.
if _os.environ.get("SPARK_REUSE_WORKER"):
    from .session import install_zip_cache as _install_zip_cache

    _install_zip_cache()
