from semhash_spark.functions.hashing import (  # noqa: F401
    minhash_signature,
    shingle_hashes,
    shingle_strings,
    simhash64,
    tokens,
)
from semhash_spark.functions.vectors import cosine_similarity  # noqa: F401
