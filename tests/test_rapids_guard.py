"""RAPIDS-eligibility regression guard.

gpu.py claims the query surface is RAPIDS-eligible: JVM-side
DataFrame algebra that the RAPIDS Accelerator plugin can place on GPU,
with Python touching data ONLY at documented Arrow-batched stages.
This walks the entire registry at ``sf_dir`` and pins that claim:

* ``BatchEvalPython`` (row-at-a-time Python UDF — the slow path and a
  hard CPU fallback) may appear ONLY in the declared UDTF surface
  query, where row-by-row is the API's own contract.
* Arrow stages (``ArrowEvalPython`` / ``MapInPandas`` /
  ``FlatMapGroupsInPandas``) may appear ONLY in the enumerated
  allowlist: the multimodal decoders, the declared UDF/UDTF surface,
  and the per-partition sketch/skyline passes whose scale story is
  written in their docstrings.

The plan is the one recorded, before any collect, from the session's
single build of each query (the ``query_record`` fixture). A new query
that sneaks a Python stage into a hot path fails here by name.
Limitation (documented): stages upstream of a materialize()
checkpoint execute during DataFrame CONSTRUCTION and leave only a
``Scan ExistingRDD`` in the final plan, so this guard sees the
final-plan topology — construction-time Arrow stages are covered by
the per-operator plan tests instead.
"""

from __future__ import annotations

# Row-at-a-time Python execution: the UDTF demonstration query only
# (Spark UDTFs have no Arrow variant for this shape).
ROW_UDF_ALLOWED = {"udtf_tokenize"}

# Arrow-batched Python stages with a documented scale story.
ARROW_ALLOWED = {
    # declared UDF/UDAF surface queries (the point IS the UDF)
    "udf_pandas_scalar",
    "udf_grouped_map",
    # multimodal decode (binary payloads need Python codecs)
    "mm_extract_features",
    "mm_audio_energy",
    "mm_frame_sample",
    "mm_image_phash",
    # per-partition algorithmic passes (documented mapInPandas shapes)
    "skyline_price_size",
    "topk_heavy_hitters_2pass",
    # zlib ratio needs Python's compressor, Arrow-batched
    "text_compression_ratio",
    # PCA's Gram partials are a mapInPandas tree-aggregate
    "embed_pca_power",
    # IMI-blocker assignment: router matmul per Arrow batch
    # (closure holds only the O(sqrt n) router panel) + cogrouped
    # per-router cell argmax with the codebook as a broadcast-joined
    # TABLE, never a driver collect (see the query docstring)
    "dedup_embedding_cosine",
}

ARROW_NODES = (
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
)


def test_no_row_udf_or_stray_python_stage_in_any_registered_plan(query_record):
    from gpu_database_spark import registry

    row_udf_offenders: dict[str, str] = {}
    arrow_offenders: dict[str, list[str]] = {}
    for name in registry.queries():
        plan = query_record(name).built().plan
        if "BatchEvalPython" in plan and name not in ROW_UDF_ALLOWED:
            row_udf_offenders[name] = "BatchEvalPython"
        stray = [n for n in ARROW_NODES if n in plan]
        if stray and name not in ARROW_ALLOWED:
            arrow_offenders[name] = stray
    assert not row_udf_offenders, (
        "row-at-a-time Python UDF in a registered plan (hard RAPIDS "
        f"fallback + 10-100x slower than Arrow): {row_udf_offenders}"
    )
    assert not arrow_offenders, (
        "undocumented Arrow/Python stage in a registered plan — add a "
        "scale-story docstring and extend ARROW_ALLOWED deliberately, "
        f"or rewrite JVM-side: {arrow_offenders}"
    )
