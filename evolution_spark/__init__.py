"""evolution_spark — a PySpark-native analytics engine with the capabilities of
``firelink-data/evolution`` (fixed-length-file <-> columnar conversion + mock data
generation), extended with a full relational query surface and LLM-data-pipeline
operators (dedup, similarity search, text analysis, multimodal columns), designed
for 100 TB scale.

Architecture: everything is declared through the Spark DataFrame API so Catalyst
performs pushdown/pruning/join-planning; Python UDFs appear only where built-ins
cannot express the semantics (and then as Arrow-batched pandas UDFs).

Reference parity map (see SURVEY.md §2): the reference's operators O1-O15 are
realized here as:
  O1/O2   -> ``spark.read.text`` split planning          (io/flf.py)
  O3-O10  -> ``parse_flf`` staged SQL projections         (io/flf.py)
  O11-O13 -> ``Converter`` sinks parquet/delta/iceberg/ipc/flf (converter.py)
  O14     -> ``Mocker``                                   (mocker.py)
  O15     -> Spark executors/tasks (automatic)
"""

from evolution_spark.schema import FixedColumn, FixedSchema
from evolution_spark.converter import Converter, Target
from evolution_spark.mocker import Mocker

__version__ = "0.1.0"

__all__ = [
    "FixedColumn",
    "FixedSchema",
    "Converter",
    "Target",
    "Mocker",
    "__version__",
]
