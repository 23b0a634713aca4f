"""stream_processor_spark — a PySpark-native analytics & stream-processing engine.

A from-scratch engine with the capabilities of the reference streaming ETL
processor (``inflect-framework/stream-processor``: Kafka-to-Kafka
schema-decoded map/filter chains with per-step DLQ routing — see
``src/consumer.js`` in the reference) re-expressed Spark-first, plus a full
relational analytics surface (joins / aggregations / window functions /
scalar library), event-time streaming (tumbling / sliding / session windows,
watermarks, stateful dedup), and LLM-training-data operators (exact + near
dedup, embedding similarity search, text analysis, multimodal column
plumbing) designed for 100 TB scale.

Design stance (see docs/SCALE.md):
- DataFrame/SQL first: every operator is a declarative Catalyst plan;
  Python UDFs only where expressions cannot express the semantics, and
  then always Arrow-batched (pandas_udf / mapInPandas, or arrow_udf /
  mapInArrow where values must stay exact, as at the pipeline boundary).
- No driver-side collect() in any operator path.
- Broadcast small dimensions, pre-aggregate before shuffles, AQE on.
"""

__version__ = "0.1.0"

from stream_processor_spark.session import get_spark, tune_session  # noqa: F401
from stream_processor_spark.catalog import Tables, load_tables  # noqa: F401
