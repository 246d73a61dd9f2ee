"""PySpark-native analytics engine with the capabilities of
``mprzybylak/minefields-kafka-streams-deduplication`` (a Kafka Streams
event-deduplication demo; see SURVEY.md §0 — the reference checkout is
empty, so capability anchors cite the public Kafka Streams API instead
of file:line), extended with LLM-data-pipeline operators (dedup,
similarity search, multimodal columns, text analysis) designed for
100 TB scale.

Architecture: a thin, well-tested operator library over the public
PySpark DataFrame / SQL / Structured Streaming API. There is no custom
parser, planner, optimizer, shuffle, or state store — Catalyst, Tungsten
and the Structured Streaming state store provide all of it (SURVEY.md
§4.2). Every batch operator is a declarative DataFrame plan; every
streaming operator uses watermarks + built-in stateful operators (or
``applyInPandasWithState`` where the semantics demand arbitrary
state, mirroring the reference's Processor-API dedup transformer).
"""

from .session import get_spark, tune
from .catalog import TABLES, dec6, load_table, load_tables, register_views
from .registry import QUERIES, ORACLES, query, get_queries, get_oracles

# Importing these modules registers every query in the registry.
from . import operators  # noqa: F401
from . import functions  # noqa: F401
from . import streaming  # noqa: F401
from . import multimodal  # noqa: F401
from . import sources  # noqa: F401
from . import plans  # noqa: F401
from .topology import StreamsBuilder  # KS DSL facade (migration surface)

__all__ = [
    "StreamsBuilder",
    "get_spark",
    "tune",
    "TABLES",
    "dec6",
    "load_table",
    "load_tables",
    "register_views",
    "QUERIES",
    "ORACLES",
    "query",
    "get_queries",
    "get_oracles",
]
