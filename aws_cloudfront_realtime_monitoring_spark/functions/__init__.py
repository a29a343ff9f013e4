from .timestream import bin_, ago, create_time_series, expand_macros  # noqa: F401
from .hashing import h60, h60_sql, mod_hash_sql, HASH_PRIME  # noqa: F401
