"""Every top-level engine def is reached from a program that runs the
engine (``__spark_entry__.py``, ``bench.py``, ``perfbench/``, ``tools/``),
or sits on the frozen backlog below. A new def that only tests call fails
here: wire it into a registry query, or delete it. The backlog only
shrinks: delete an entry once its def is reached or gone."""

from __future__ import annotations

import textwrap

from tools.unreached import unreached

BACKLOG = {
    # env-gated live providers: the only route to real models
    "memfuse_spark/models.py": {
        "make_live_cross_encoder", "make_live_embedder",
    },
    "memfuse_spark/operators/ann.py": {
        "ivf_assign", "ivf_kmeans_centroids",
    },
    "memfuse_spark/operators/chunking.py": {
        "character_chunks", "character_chunks_py",
    },
    "memfuse_spark/operators/dedup.py": {
        "audit_sample_scaled", "semantic_dedup_keep",
    },
    # the one compaction of a live kNN store, to fold into buffer.compact_epochs
    "memfuse_spark/operators/graph.py": {
        "compact_knn_store", "knn_store_arcs", "knn_store_probes",
    },
    "memfuse_spark/operators/incremental.py": {
        "agg_state", "finalize", "merge_states",
    },
    "memfuse_spark/operators/keyword.py": {
        "phrase_search_indexed", "rm3_topk", "spellfix_topk",
    },
    "memfuse_spark/operators/layout.py": {
        "zorder_layout",
    },
    "memfuse_spark/operators/multimodal.py": {
        "_gif_lzw_encode", "audio_features", "decode_features", "encode_gif", "encode_png", "media_neardup_pairs", "phash64", "sniff_media_bytes", "sniff_media_meta",
    },
    "memfuse_spark/operators/pca.py": {
        "embedding_drift", "pca_components",
    },
    "memfuse_spark/operators/rerank.py": {
        "_stub_scorer",
    },
    "memfuse_spark/operators/sampling.py": {
        "hash_sample",
    },
    "memfuse_spark/operators/skew.py": {
        "replicated_salt_join",
    },
    "memfuse_spark/operators/textanalysis.py": {
        "compression_ratio",
    },
    # env-gated live providers: the only route to real models
    "memfuse_spark/prompts.py": {
        "_parse_text_facts", "llm_enhancer", "llm_extractor", "llm_former", "llm_validator", "parse_fact_extraction_response", "parse_validation_response",
    },
    # env-gated live providers: the only route to real models
    "memfuse_spark/providers.py": {
        "HTTPChatProvider", "HTTPEmbeddingProvider", "HTTPRerankProvider", "MockChatProvider", "ProviderConfig", "ProviderError", "_HTTPProviderBase", "bind_model_seams", "bind_seams", "embed_provider_from_env", "provider_from_env", "rerank_provider_from_env",
    },
    "memfuse_spark/sources/graphml.py": {
        "export_graphml", "import_graphml",
    },
    "memfuse_spark/sources/jsonstore.py": {
        "items_from_documents", "load_json_store", "save_json_store",
    },
    "memfuse_spark/sources/tables.py": {
        "ParquetTable", "PartitionedParquetTable", "cascade_delete", "compact",
    },
    "memfuse_spark/sources/warehouse.py": {
        "build_gold_tables",
    },
    # the three ingest streams and the foreachBatch launcher they share
    "memfuse_spark/streaming/buffer.py": {
        "_epoch_stream", "index_ingest_stream", "ingest_stream", "vector_ingest_stream",
    },
}


def test_unreached_defs_are_on_the_backlog():
    found = unreached()
    backlog = {f"{rel}::{name}" for rel, names in BACKLOG.items() for name in names}
    new = sorted(set(found) - backlog)
    assert not new, "defs no program reaches (only tests, if anything):\n" + "\n".join(
        f"  {key} (line {found[key]})" for key in new
    )


def test_scan_follows_name_paths(tmp_path, monkeypatch):
    """A def is reached through a chain of calls from a root file, by
    attribute and by string name; a def only its own module names is
    not."""
    import tools.unreached as u

    pkg = tmp_path / "memfuse_spark"
    pkg.mkdir()
    (pkg / "mod.py").write_text(textwrap.dedent(
        """
        LIMIT = 3

        def entry():
            return helper()

        def helper():
            return LIMIT

        def wrapped():
            pass

        def dead():
            return dead_too()

        def dead_too():
            return entry()
        """
    ))
    (tmp_path / "__spark_entry__.py").write_text(
        "from memfuse_spark import mod\nmod.entry()\nWRAP = [(mod, 'wrapped')]\n"
    )
    monkeypatch.setattr(u, "REPO", tmp_path)
    monkeypatch.setattr(u, "PACKAGE", pkg)
    assert set(u.unreached()) == {
        "memfuse_spark/mod.py::dead",
        "memfuse_spark/mod.py::dead_too",
    }
