"""ocr_spark — a PySpark-native interleaved-document extraction engine.

A from-scratch reimplementation of the observable behavior of the
reference repo ``hrl13260130208/ocr`` (spec: BASELINE.json north_star /
north_rule; the reference tree is unavailable in this sandbox — see
SURVEY.md §0, citations are therefore ``REF:unavailable`` + driver-spec
file:line).

Pipeline: read interleaved documents (doc_id, spans:array<struct<kind,
text, media_ref, offset>>) → salted repartition (skew) → one fused
Arrow-batched mapInPandas stage (PDF content-stream tokenize, HTML DOM
tokenize, layout classification, boilerplate strip) → offset-order
restitch → write spans + per-partition lineage (idempotent restart).
"""

from ocr_spark import zipcache

# every engine UDF unpickles into a module under ocr_spark, so this runs
# once in each Python worker that executes one (see zipcache)
zipcache.install()

__version__ = "0.1.0"
