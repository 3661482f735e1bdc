from erigon_extract_spark.functions.decode import (  # noqa: F401
    decode_account_blob,
    decode_body_rlp,
)
from erigon_extract_spark.functions.u256 import (  # noqa: F401
    u256_add,
    u256_sub,
    u256_to_decimal,
    u256_from_long,
)
