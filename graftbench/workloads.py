"""The benchmark's workloads: which registered query keys one pass runs.

Every key is oracle-backed; README.md in this directory says why each
workload was chosen and which layer each one stresses.
"""

from __future__ import annotations

WORKLOADS: dict[str, list[str]] = {
    # record -> validate -> enrich -> letter DOCX/PDF -> archive, the
    # paper's own flow: Python-worker codecs, a broadcast star join and a
    # foreachBatch stream
    "ingest_letters": [
        "q_engagement_pipeline",
        "q_letter_roundtrip",
        "q_report_archive_extract",
        "q_stream_quarantine",
    ],
    # LLM-curation operators over persisted bucketed bases: exchanges and
    # pair joins
    "neardup_curation": [
        "q_minhash_portable",
        "q_semantic_dedup",
    ],
}
