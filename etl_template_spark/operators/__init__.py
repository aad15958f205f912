"""Reusable composite operators the DataFrame API lacks as primitives.

Each is a pure DataFrame→DataFrame composition (no RDDs, no collect):
    ann.py        incremental IVF ANN index on the versioned store
                  (frozen coarse quantizer, append-only cell log,
                  probe-exact search)
    asof.py       as-of join (union + carry-forward window: O(n log n),
                  never materializes the m×n candidate space)
    sessionize.py gap-based sessionization (lag + cumulative sum)
    topk.py       per-group top-k (rank window) and global top-k
    cluster.py    connected components over pair graphs (duplicate-
                  cluster resolution: pairs → groups → one survivor);
                  one min-label kernel, also behind the incremental
                  refresh
    dedup.py      exact / MinHash / SimHash deduplication
    rangejoin.py  binned range join (interval containment without an
                  equi key, as a bin-id equi-join — no BNLJ/cartesian)
    skew.py       key-salting helpers for pathological skew
    heavy.py      exact heavy hitters via Misra-Gries candidates +
                  broadcast-restricted verify pass
    invindex.py   incremental BM25 search index on the versioned store
                  (additive postings/stats — exact, serve-from-postings)
"""

from .ann import (  # noqa: F401
    ivf_compact,
    ivf_index_incremental,
    ivf_search,
    train_centroids,
)
from .asof import asof_join  # noqa: F401
from .cluster import (  # noqa: F401
    connected_components,
    connected_components_incremental,
)
from .dedup import (  # noqa: F401
    dedup_exact,
    lsh_candidate_pairs,
    minhash_signature,
    ngram_jaccard_pairs,
    ngram_jaccard_pairs_prefix,
    verified_jaccard,
)
from .heavy import heavy_hitters, mg_candidates  # noqa: F401
from .invindex import bm25_search, search_index_incremental  # noqa: F401
from .rangejoin import range_join_binned  # noqa: F401
from .sessionize import sessionize  # noqa: F401
from .skew import replicate_join, salted_agg, with_salt  # noqa: F401
from .topk import top_k_per_group  # noqa: F401
