"""The benchmark's workloads: which registered queries run, and why each
set was chosen."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    why: str


WORKLOADS: dict[str, Workload] = {w.name: w for w in (
    Workload(
        "ingest",
        ("a02_csv_roundtrip", "a03_partitioned_write", "a09_curated_write",
         "a11_compaction", "a13_dynamic_partition_overwrite",
         "a16_csv_gzip_roundtrip", "j06_stream_sink_parquet"),
        "raw CSV to curated snappy Parquet, partitioned, compacted and "
        "streamed: the only workload that writes, so build is writer time"),
    Workload(
        "curation",
        ("i22_dedup_clusters", "i27_cc_bigstar", "i24_curation_pipeline",
         "i59_semdedup_census_ann", "i34_minhash_banding", "i48_span_dedup"),
        "iterative and pinned LLM-curation kernels: eager checkpoint jobs "
        "make build most of the pass; i48 and i59 are shuffle-bound"),
)}
