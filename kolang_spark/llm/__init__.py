"""LLM-data-pipeline operators (north-star extensions, BASELINE.json).

Everything a large-scale training-data pipeline needs on top of the
reference surface: deduplication (exact / MinHash-LSH / SimHash /
n-gram-Jaccard / embedding-cosine), similarity search (brute-force
cosine top-k + LSH-bucketed ANN), text analysis (language-ID, quality
scoring, token counting, fingerprinting), and multimodal column
conventions.

Design rule carried over from the core: **hash-native, UDF-free column
algebra wherever possible** — shingling, MinHash, SimHash, Jaccard and
cosine are all pure Catalyst expressions here, so they run JVM-side at
100 TB. Dot products, norms and distances up to
``similarity.UNROLL_DIMS_LIMIT`` (16) dimensions unroll into arithmetic
that whole-stage codegen compiles; wider vectors fold through
``aggregate(zip_with)``, which Spark interprets (no codegen).

Python runs only where per-byte work has no Catalyst expression: the
real media decoders and codec synthesizers in :mod:`.multimodal`, the
WARC record walk and CDC chunking. All of them cross one Arrow row
boundary, :func:`kolang_spark.utils._map_rows`. Three Arrow stages of
other shapes remain: BPE's pandas UDF for tokenizer-scale merge tables,
MMR re-ranking's ``applyInPandas`` and the streaming
``applyInPandasWithState`` operators.
"""

from kolang_spark.llm.dedup import (  # noqa: F401
    connected_components,
    dedup_keep_best,
    dedup_keep_list,
    dedup_lines_global,
    duplicate_spans,
    duplication_mass_report,
    strip_duplicate_spans,
    exact_dedup,
    incremental_exact_dedup,
    incremental_line_dedup,
    incremental_embedding_dedup,
    incremental_minhash_dedup,
    embedding_near_dup_pairs,
    embedding_near_dup_pairs_lsh,
    semantic_dedup,
    jaccard_near_dup_pairs,
    containment_pairs,
    edit_distance_pairs,
    cdc_chunks,
    incremental_cdc_ingest,
    minhash_candidate_pairs,
    hamming_pairs,
    simhash_hamming_pairs,
    simhash_near_dup_pairs,
    with_shingles,
)
from kolang_spark.llm.curate import (  # noqa: F401
    curate,
    curate_flags,
    remove_boilerplate_lines,
)
from kolang_spark.llm.similarity import (  # noqa: F401
    brute_force_topk,
    cosine,
    ivf_topk,
    kmeans_centroids,
    lsh_topk,
)
from kolang_spark.llm.textstats import (  # noqa: F401
    bpe_token_estimate,
    doc_fingerprint,
    lang_id,
    quality_metrics,
    repetition_metrics,
    simhash,
    token_count,
    tokenize,
    word_ngrams,
)
from kolang_spark.llm.scrub import (  # noqa: F401
    canonicalize_url,
    extract_urls,
    filter_blocked_domains,
    flag_blocked_terms,
    fix_mojibake,
    fold_confusables,
    mojibake_score,
    pii_counts,
    redact_pii,
    url_domains,
)
from kolang_spark.llm.decontam import (  # noqa: F401
    ngram_contamination,
    semantic_contamination,
)
from kolang_spark.llm.multimodal import (  # noqa: F401
    audio_frame_features,
    block_downsample,
    decode_avi_frames,
    decode_gif_frames,
    image_ahash,
    resize_image,
    synth_avi_blobs,
    synth_gif_blobs,
)
from kolang_spark.llm.html import (  # noqa: F401
    extract_links,
    html_to_text,
)
from kolang_spark.llm.bpe import (  # noqa: F401
    bpe_encode,
    bpe_merges_df,
    bpe_token_count,
    bpe_train,
    bpe_encode_ids,
    bpe_vocab,
    bpe_vocab_ids,
    load_tokenizer,
    save_tokenizer,
)
from kolang_spark.llm.classify import (  # noqa: F401
    linear_text_classifier,
    train_token_logodds,
)
from kolang_spark.llm.dsir import dsir_logratios, dsir_resample  # noqa: F401
from kolang_spark.llm.langid import (  # noqa: F401
    char_ngram_buckets,
    classify_lang,
    train_char_langid,
)
from kolang_spark.llm.lmscore import (  # noqa: F401
    bigram_lm_scores,
    perplexity_buckets,
    unigram_lm_scores,
)
from kolang_spark.llm.pca import (  # noqa: F401
    PcaModel,
    jl_components,
    jl_project,
    pca_fit,
    pca_project,
)
from kolang_spark.llm.prep import (  # noqa: F401
    assign_shards,
    chunk_documents,
    pack_balanced,
    pack_examples,
)
from kolang_spark.llm.retrieval import (  # noqa: F401
    bm25_topk,
    mmr_rerank,
    retrieval_metrics,
)
from kolang_spark.llm.quantize import (  # noqa: F401
    dequantize_embedding,
    quantize_embedding,
)
from kolang_spark.llm.terms import (  # noqa: F401
    ngram_novelty,
    oov_stats,
    pmi_collocations,
    tfidf_top_terms,
    vocabulary,
)
