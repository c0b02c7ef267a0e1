"""Custom operators: combine/adCombine parity, joins Spark lacks, dedup and
similarity primitives, sketches, storage layout — the reusable API surface
behind the query registry.

Import from here for the stable names; each module's docstring carries the
scale analysis and the reference citation:

    from flink_adcom_spark.operators import (
        as_of_join, bucketed_range_join,        # event-time joins
        combine, combine_generic,               # adCombine parity tiers
        connected_components,                   # dedup clusters
        lloyd_kmeans, assign_clusters,          # coarse quantizer training
        cms_build, cms_probe,                   # count-min sketch
        salted_agg, salted_count_distinct,      # hot-key aggregation
        salted_top_k,                           # exact per-key top-k fold
        l2_normalize, quantize_int8,            # vector prep
        cosine, norm, pair_cosine,              # the exact-cosine law
        write_bucketed, upsert_partitions,      # pay-the-shuffle-once layouts
    )
"""

from .asof import as_of_join  # noqa: F401
from .cms import (  # noqa: F401
    CMS_DEPTH,
    CMS_WIDTH,
    cms_build,
    cms_probe,
    heavy_hitter_audit,
)
from .combine import PreAggregateFunction, combine, combine_generic  # noqa: F401
from .components import (  # noqa: F401
    connected_components,
    connected_components_twophase,
)
from .kmeans import assign_clusters, lloyd_kmeans  # noqa: F401
from .multimodal import (  # noqa: F401
    extract_features,
    resize_images,
    sample_frames,
)
from .pairdots import cosine, norm, pair_cosine  # noqa: F401
from .rangejoin import bucketed_range_join  # noqa: F401
from .skew import (  # noqa: F401
    salted_agg,
    salted_count,
    salted_count_distinct,
    salted_top_k,
)
from .storage import (  # noqa: F401
    bucketed_join,
    upsert_partitions,
    write_bucketed,
    write_partitioned,
)
from .vectors import (  # noqa: F401
    dequantize_int8,
    l2_normalize,
    quantize_int8,
)
