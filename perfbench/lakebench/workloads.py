"""Workload name -> class."""

from lakebench.analyst import AnalystQueries
from lakebench.cdc import CdcStream

WORKLOADS = {w.name: w for w in (CdcStream, AnalystQueries)}
