"""gdelta_spark — a PySpark-native per-column lightweight-compression engine.

Encodes token-sequence partitions (doc_id, tokens: array<int32>, n_tok,
source) with auto-selected lightweight codecs (dictionary, RLE,
frame-of-reference + bit-packing, FSST) plus a gdelta-style byte delta codec
that is blob-compatible with the reference C++ implementation
(apple-ouyang/gdelta). All kernels are vectorized numpy running inside
Arrow-fed pandas UDFs — no per-row Python on the hot path.
"""

__version__ = "0.1.0"

# every engine UDF a Spark Python worker unpickles imports this package, so
# this reaches every engine stage: see zipstamp for the per-task cost it cuts
from gdelta_spark import zipstamp as _zipstamp

_zipstamp.install()
