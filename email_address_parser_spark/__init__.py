"""PySpark-native email identity-resolution + training-data pipeline engine.

Public surface (see SURVEY.md §2 for the operator inventory):

  kernel.parser         — RFC 5322/6532 EmailAddress API (pure Python)
  functions.udfs        — Arrow/pandas UDFs (fused extract+parse kernel)
  functions.text_analysis — Catalyst text ops (tokens/quality/lang/fingerprints)
  operators.extract     — transcripts → mentions (F2-F5)
  operators.blocking    — salted domain blocks + MinHash-LSH + reps (F6-F8)
  operators.scoring     — JW/Levenshtein pairwise scorer + match edges (F9-F10)
  operators.cc          — large-star/small-star connected components (F11)
  operators.incremental — batch-incremental cluster maintenance (G24)
  operators.decontam    — benchmark n-gram decontamination (G25)
  operators.dedup       — exact/Jaccard/MinHash/SimHash dedup + keep-best
  operators.similarity  — cosine ANN (brute-force + hyperplane LSH + IVF)
  operators.sampling    — hash splits, sequence packing, KMV sketches
  operators.multimodal  — binary payload plumbing (mapInPandas, stubbed decode)
  functions.redact      — PII redaction (engine-portable regexes)
  oracles               — DuckDB replay SQL for the engine-hash operators
  streaming.incremental_stream — merge-on-read state storage for the folds
  pipeline              — checkpoint/resume orchestration + clustering
  session               — SparkSession factory (AQE/Arrow/UTC defaults)
  sources.testdata      — driver parquet loaders + transcripts derivation
"""

__version__ = "0.2.0"
