from erigon_extract_spark.operators.windows import (  # noqa: F401
    rekey_first_block,
    delta_encode,
    delta_decode,
    dedup_keep_first,
)
from erigon_extract_spark.operators.asof import state_at, as_of_join  # noqa: F401
from erigon_extract_spark.operators.asserts import (  # noqa: F401
    assert_empty,
    assert_in_row,
    assert_unique_keys,
    assert_contiguous,
    AssertionViolation,
)
