"""semhash_spark — PySpark-native near-duplicate detection engine.

A from-scratch reimplementation of the query semantics of
MinishLab/semhash (deduplicate / self_deduplicate / filter_outliers /
find_representative and the DeduplicationResult / FilterResult
surfaces) as distributed DataFrame pipelines: MinHash/SimHash/LSH
candidate generation, exact verification by numpy kernels
(``kernels``) over executor-side blobs (``blob``), connected
components, and a winnowing containment stage.
"""

# first: inside a Spark Python worker, every later task skips re-reading
# the worker's zip archives (see _pyworker)
from semhash_spark import _pyworker  # noqa: F401
from semhash_spark.api import SparkSemHash  # noqa: F401
from semhash_spark.config import DedupConfig  # noqa: F401
from semhash_spark.datamodels import DedupResult, FilterResultDF  # noqa: F401

__version__ = "0.1.0"
