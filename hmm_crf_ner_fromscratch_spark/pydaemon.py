"""Python worker daemon with heavy imports preloaded (fork warm-up).

PySpark forks every worker from one daemon process
(``spark.python.daemon.module``, default ``pyspark.daemon``). The stock
daemon imports almost nothing, so the FIRST task on each fresh worker
pays the full ``pandas`` + ``pyarrow`` + ``numpy`` import (~1.5 s of CPU
per worker). A stage that suddenly needs 32 workers -- the first
wide ``mapInPandas`` stage of a session -- pays ~31 concurrent imports
(measured here: the first 32-task python stage ran 2-4 s slower than its
warm rerun, with executor threads blocked on worker startup, not CPU).

Importing those modules HERE, before ``manager()`` starts forking, makes
every forked worker inherit the already-initialized modules through
copy-on-write memory: worker startup drops to the cost of a bare fork.
The kernels this engine ships to workers (Viterbi, CRF feature tables,
span assembly, the labeler and its models) are preloaded for the same
reason; a failed preload is reported on stderr, not fatal.

Selected via ``spark.python.daemon.module`` in session.get_spark; the
package root is already on PYTHONPATH for workers (session.py sets it
before the JVM starts). Platforms without fork (Windows) never use the
daemon, so this module is POSIX-only by construction, same as the stock
one.
"""
from __future__ import annotations

import importlib
import sys

for _mod in (
    "numpy",
    "pandas",
    "pyarrow",
    "pyarrow.pandas_compat",
    "pyspark.sql.pandas.serializers",
    "pyspark.worker",
    "hmm_crf_ner_fromscratch_spark.functions.viterbi",
    "hmm_crf_ner_fromscratch_spark.functions.mentions",
    "hmm_crf_ner_fromscratch_spark.functions.crf",
    "hmm_crf_ner_fromscratch_spark.functions.transformer_crf",
    "hmm_crf_ner_fromscratch_spark.operators.hmm",
    "hmm_crf_ner_fromscratch_spark.operators.labeler",
):
    try:
        importlib.import_module(_mod)
    except Exception as exc:  # preload is best-effort, but never silent
        print(f"pydaemon: preload of {_mod} failed: {exc!r}", file=sys.stderr)

from pyspark.daemon import manager  # noqa: E402

if __name__ == "__main__":
    manager()
