"""name_matching_spark — a from-scratch, PySpark-native entity-resolution engine.

Re-expresses the record-linkage semantics of the reference system
(``vietexob/name-matching``: blocking -> pairwise scoring -> transitive
clustering) as a distributed Spark DataFrame pipeline designed for
10^12-turn transcript tables:

* ``functions``  — text normalization, similarity metrics, phonetic codes,
  TF-IDF (pure numpy, Arrow-batch friendly).
* ``model``      — pure-numpy gradient-boosted-tree classifier + training.
* ``operators``  — canonicalize / block / score / cluster / resolve, plus
  sign-LSH candidate pairs over an optional embedding column.
* ``streaming``  — micro-batch assignment of new names to the entity table.
* ``io``         — stage checkpointing with manifests, lineage and metrics.
* ``pipeline``   — the end-to-end resumable entity-resolution driver.

Everything here is derived from public knowledge only: the PySpark API and
the reference repo's observable behavior.
"""

__version__ = "0.1.0"
