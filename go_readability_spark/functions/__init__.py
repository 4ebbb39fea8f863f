"""Column-level functions with paired Spark + DuckDB-SQL implementations.

Every formula that participates in the driver's oracle comparison is
defined ONCE here, as (Spark Column builder, SQL fragment builder) pairs
sharing the same constants — so the Spark plan and the DuckDB oracle can't
drift apart.
"""

from .hashing import (  # noqa: F401
    HASH_P,
    MINHASH_A,
    MINHASH_B,
    md5_prefix_hash,
    md5_prefix_hash_sql,
    minhash_signature_sql,
)
from .text import (  # noqa: F401
    bpe_token_count,
    bpe_token_count_sql,
    norm_fingerprint,
    norm_fingerprint_sql,
    rolling_hash,
    rolling_hash_sql,
    shingles,
    shingles_sql,
    tokens,
    tokens_sql,
    ws_token_count,
    ws_token_count_sql,
)
from .vectors import cosine_similarity, cosine_similarity_sql  # noqa: F401
