"""Benchmark workloads: which registered queries a pass runs, in what order,
over which generated input. See README.md for why each one exists."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    # rows per generated table (inputs.generate)
    sizes: dict


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="curation_funnel",
            queries=(
                "corpus_curation_e2e",
                "embedding_dedup_keepers",
                "bpe_train_loop",
                "kmeans_train_loop",
            ),
            sizes={"documents": 3000, "embeddings": 200},
        ),
        Workload(
            name="media_pipelines",
            queries=(
                "media_curation_e2e",
                "media_png_roundtrip",
                "media_phash_neardup",
                "audio_fingerprint_neardup",
                "pipeline_cut_e2e",
                "pipeline_frame_mining_e2e",
            ),
            sizes={"documents": 1500, "orders": 25000},
        ),
    )
}
