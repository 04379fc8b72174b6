"""Lake adapter: the reference's actual surface, rebuilt on Spark.

- :mod:`gutenberg` — marker-split parsing (reference R2).
- :mod:`adapter` — delta or iceberg book lake with ingest / exists / list
  (reference R1, R4, R5, R6, R7).
- :mod:`api` — dict-shaped API facade (reference R9-R13).
"""

from tscd_datalake_adapter_spark.lake.adapter import LakeAdapter
from tscd_datalake_adapter_spark.lake.gutenberg import SplitResult, split_book

__all__ = ["LakeAdapter", "SplitResult", "split_book"]
