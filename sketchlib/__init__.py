"""sketchlib — a from-scratch, PySpark-native distributed sketch library.

Mergeable approximate-aggregation sketches (blocked/sectorized Bloom filter,
HyperLogLog, count-min, KLL quantiles, t-digest, MinHash) implemented as
batched NumPy kernels driven through Arrow-vectorized PySpark UDFs
(``mapInArrow`` partials + ``applyInArrow`` merge trees — no per-row Python).

Design lineage: the Bloom bit layout follows the blocked/sectorized design of
``peterboncz/bloomfilter-bsd`` (Lang, Neumann, Kemper, Boncz, "Performance-
Optimal Filtering", SIGMOD 2019; Putze, Sanders, Singler, WEA 2007) so that
false-positive rates match the published formulas at matched m/n and k. The
reference checkout at /root/reference was empty at build time (SURVEY.md §0),
so all parity targets are the published analytic FPR formulas (fpr.py), not
reference binaries.

Every sketch is a commutative monoid under its merge op (bitwise-OR /
register-max / counter-add / level-concat / centroid-concat / slot-min),
which is exactly Spark's partial→final aggregation contract: per-partition
partials built inside Arrow batches, merged shuffle-side, estimated on the
driver or broadcast back for probing.
"""

from sketchlib.config import (
    BloomConfig,
    CMSConfig,
    HLLConfig,
    KLLConfig,
    MinHashConfig,
    SketchConfigError,
    TDigestConfig,
)
from sketchlib.cuckoo import CuckooConfig

__version__ = "0.2.0"

__all__ = [
    "BloomConfig",
    "HLLConfig",
    "CMSConfig",
    "KLLConfig",
    "TDigestConfig",
    "MinHashConfig",
    "CuckooConfig",
    "SketchConfigError",
    "__version__",
]
