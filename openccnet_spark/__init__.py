"""openccnet_spark — a PySpark-native quality-filter engine.

From-scratch rebuild of the capabilities of laisuk/OpenccNet (OpenCC-style
Traditional<->Simplified Chinese conversion) fused with a web-scale quality
gate (language ID, perplexity, heuristic rules, PII scrubbing) over Spark
DataFrames of conversation transcripts. See SURVEY.md for the full design.

Importing the package inside a pyspark worker (every engine stage does, when
the worker unpickles it) installs the stat-checked zip-archive invalidation
of ``zipcache``; on the driver the import patches nothing.
"""

from .convert import CONFIGS, Converter, convert, default_converter
from .dictionary import DictionaryBundle, load_bundle, parse_dict_text
from .plans import ConversionPlan, get_plan, plan_slots
from .zipcache import install_on_worker

install_on_worker()

__version__ = "0.1.0"

__all__ = [
    "CONFIGS",
    "ConversionPlan",
    "Converter",
    "DictionaryBundle",
    "convert",
    "default_converter",
    "get_plan",
    "load_bundle",
    "parse_dict_text",
    "plan_slots",
]
