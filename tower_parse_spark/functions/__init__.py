"""Pure-expression primitives (JVM-side, whole-stage-codegen'd)."""

from tower_parse_spark.functions.extraction import (  # noqa: F401
    extract_lines,
    packed_parts,
    unnamed_pattern,
)
from tower_parse_spark.functions.rounding import pround, sql_pround  # noqa: F401
from tower_parse_spark.functions.text import (  # noqa: F401
    bpe_pretokens,
    combine_shingle_hashes,
    quality_features,
    rolling_fingerprint,
    shingles,
    tokens,
)
