"""datapatterns_spark — a from-scratch PySpark-native data profiling +
validation engine with the capabilities of hpcc-systems/DataPatterns,
extended with a large-scale constraint layer and checkpointed,
incremental runs.

Public API (reference analogues cited in each module):

* :func:`profile`                — Profile()            (Profile.ecl)
* :func:`cardinality`            — Cardinality()        (Cardinality.ecl)
* :func:`benford`                — Benford()            (Benford.ecl)
* :func:`validate` / :func:`fix` — Validation.Validate/Fix (Validation.ecl)
* :func:`normalize_profile_results` — NormalizeProfileResults()
* :func:`best_record_structure`  — BestRecordStructure()
* ``operators.constraints``      — uniqueness / referential / monotonic
  / drift (KS, PSI) / Benford-as-check with per-partition verdicts
* ``operators.manifest``         — checkpointed per-partition resume
* ``operators.incremental``      — mergeable per-partition profile states
* ``sources.transcripts``        — deterministic transcript generator
* ``sources.tables``             — Iceberg/parquet source adapter
"""

from .operators.benford import benford
from .operators.best_record import best_record_structure
from .operators.cardinality import cardinality
from .operators.normalize import normalize_profile_results
from .operators.profile import profile
from .operators.validation import fix, validate
from .session import get_spark

__all__ = [
    "benford",
    "best_record_structure",
    "cardinality",
    "fix",
    "get_spark",
    "normalize_profile_results",
    "profile",
    "validate",
]

__version__ = "0.1.0"
