"""Custom operators: the capabilities Spark lacks natively, each built
scale-first (see SCALE.md for the per-family plan audit)."""

from tower_parse_spark.operators.asof import asof_join  # noqa: F401
from tower_parse_spark.operators.components import (  # noqa: F401
    connected_components,
    dedup_clusters,
)
from tower_parse_spark.operators.decontam import (  # noqa: F401
    flag_contaminated,
    ngram_hash_set,
)
from tower_parse_spark.operators.dedup import (  # noqa: F401
    embedding_near_dup_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    with_minhash,
    with_simhash,
)
from tower_parse_spark.operators.pack import (  # noqa: F401
    ntile_expr,
    pack_stats,
    with_global_row_scalable,
    with_pack_id,
)
from tower_parse_spark.operators.rangejoin import range_join  # noqa: F401
from tower_parse_spark.operators.sampling import (  # noqa: F401
    hash_bucket,
    stratified_downsample,
    with_split,
)
from tower_parse_spark.operators.similarity import (  # noqa: F401
    brute_force_topk,
    hyperplane_lsh_topk,
    ivf_topk,
    kmeans_centroids,
)
