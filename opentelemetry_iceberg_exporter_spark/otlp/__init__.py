"""OTLP -> flat-table transforms: the semantic heart of the engine.

The reference converts OTLP pdata object trees to Arrow RecordBatches
with hand-rolled row loops (internal/arrow/{traces,logs,metrics}.go).
So does `flatten.otlp_to_arrow`: one Python pass over decoded requests
(OTLP/JSON lines, or protobuf payloads decoded by `protobuf.py`) builds
each output table as a `pa.Table` of its declared schema. The streaming
pipeline runs it on the driver per micro-batch and as a `mapInArrow`
body over replayed files.
"""

from .flatten import otlp_to_arrow

__all__ = ["otlp_to_arrow"]
