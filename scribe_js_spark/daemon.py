"""PySpark worker daemon that loads the extraction stack once.

``pipeline.session_conf`` names this module as Spark's Python daemon.
Spark starts it once per executor, and it forks every Python worker.
PySpark's own daemon imports only ``pyspark``, so each worker it forks
imports pandas, pyarrow and this package again, at about 0.5 s of CPU
and a private heap per worker. Here they are imported before the first
fork, and ``gc.freeze`` moves them out of the cyclic collector's
generations: the workers inherit them copy-on-write, and no worker
collection (PySpark runs a full one after every task) walks, and so
copies, the inherited pages. Importing this module starts no daemon.

pandas stays although no package map uses it: pyarrow 16.1's
``pa.array`` imports it on first call, even for numpy input, so every
Arrow worker loads it. Unpreloaded (4-core VM), 2-job ``ocr_mixed``
worker peak RSS rose from 197-199 to 210-215 MB.
"""

import gc

import pandas  # noqa: F401
import pyarrow  # noqa: F401
import pyspark.daemon

from . import extract, pipeline  # noqa: F401
from .operators import pdf  # noqa: F401

if __name__ == "__main__":
    gc.collect()
    gc.freeze()
    pyspark.daemon.manager()
