"""LLM-data-pipeline operators (BASELINE.json north star).

First-class, reusable operators over arbitrary DataFrames — the query
registry (``queries/llmq.py``) exposes oracle-checked instantiations of
these over the fixture tables.

- ``dedup``      — exact / fingerprint / n-gram Jaccard / MinHash-LSH /
  SimHash deduplication
- ``similarity`` — embedding cosine top-k (brute force + LSH-bucketed)
- ``text``       — stats, language-ID, token counting, quality scoring,
  winnowing fingerprints, PII/URL redaction
- ``sampling``   — reproducible hash / stratified training-mix sampling
- ``multimodal`` — opaque binary columns with typed metadata and
  Arrow-batched decode/transform plumbing (real pure-stdlib codecs:
  png/jpeg/gif/bmp/pnm images, wav audio)
- ``mediainfo``  — header-only media triage (container/dims/duration
  probe in front of every decode stage)
"""

from etl_batch_spark.llmops import (  # noqa: F401
    dedup,
    mediainfo,
    multimodal,
    sampling,
    similarity,
    text,
)
