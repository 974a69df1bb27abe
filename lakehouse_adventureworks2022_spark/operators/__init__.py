from lakehouse_adventureworks2022_spark.operators.classifier import (  # noqa: F401
    score_quality,
    train_quality_classifier,
)
from lakehouse_adventureworks2022_spark.operators.curation import (  # noqa: F401
    contamination_check,
    pack_documents,
    shuffle_corpus,
    split_by_hash,
)
from lakehouse_adventureworks2022_spark.operators.lm import (  # noqa: F401
    score_perplexity,
    train_ngram_lm,
)
from lakehouse_adventureworks2022_spark.operators.dedup import (  # noqa: F401
    clean_corpus,
    dedup_exact,
    minhash_lsh_pairs,
    simhash_pairs,
)
from lakehouse_adventureworks2022_spark.operators.sampling import (  # noqa: F401
    hash_sample,
    hash_sample_exact_n,
    hash_sample_stratified,
    temperature_mixture_sample,
)
from lakehouse_adventureworks2022_spark.operators.scd2 import scd2_apply  # noqa: F401
from lakehouse_adventureworks2022_spark.operators.bm25 import (  # noqa: F401
    bm25_search,
    build_bm25_index,
    rrf_fuse,
)
from lakehouse_adventureworks2022_spark.operators.bpe import (  # noqa: F401
    bpe_segment,
    train_bpe,
    word_counts,
)
from lakehouse_adventureworks2022_spark.operators.substring_dedup import (  # noqa: F401
    duplicate_spans,
    remove_duplicate_spans,
)
from lakehouse_adventureworks2022_spark.operators.similarity import (  # noqa: F401
    cosine_topk,
    cosine_topk_ivf,
    cosine_topk_ivf_pq,
    cosine_topk_pq,
    ivf_build,
    search_index,
    semdedup,
)
from lakehouse_adventureworks2022_spark.operators.textops import (  # noqa: F401
    redact_pii,
    remove_boilerplate_lines,
    tf_idf,
    token_stats,
)
