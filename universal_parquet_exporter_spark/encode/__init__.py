"""Encode pipeline: Arrow column chunks → codec containers → Spark sink.

Layers:

- :mod:`.chunk` — per-column encode/decode of Arrow arrays with the
  cost-model auto-selector (SURVEY.md §2C);
- :mod:`.container` — (de)serialization of encoded chunks to a binary
  payload + JSON meta;
- :mod:`.pipeline` — the distributed job: size-aware partition planning,
  ``mapInArrow`` encode, Parquet sink, lineage/metrics, checkpointed
  resume, and the decode (read-back) path;
- :mod:`.scan` — the one read planner (committed manifest → unit and
  zone-map pruning) and chunk decode kernel, shared by ``decode_dataset``
  and the ``upe_encoded`` readers;
- :mod:`.maintenance` — vacuum sweep for dead payload files and orphan
  manifest rows (the Iceberg ``remove_orphan_files`` analog);
- :mod:`.compaction` — rewrite fragmented units into full-size chunks
  (the Iceberg ``rewrite_data_files`` analog).
"""

from .chunk import decode_array, encode_array
from .compaction import compact
from .container import deserialize_chunk, serialize_chunk
from .maintenance import vacuum
from .pipeline import (
    EncodeJobConfig,
    dataset_column_stats,
    decode_dataset,
    encode_job,
    encode_parquet_job,
)

__all__ = [
    "encode_array",
    "decode_array",
    "serialize_chunk",
    "deserialize_chunk",
    "EncodeJobConfig",
    "encode_job",
    "encode_parquet_job",
    "decode_dataset",
    "dataset_column_stats",
    "vacuum",
    "compact",
]
