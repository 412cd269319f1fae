"""address_match_recommend_spark — a PySpark-native record-linkage engine.

A from-scratch, Spark-first re-creation of the capabilities of the reference
engine ``clog-13/address_match_recommend`` (a single-process Go address
entity-resolution service, surveyed in SURVEY.md): the segment → index →
score → recommend flow, expressed as distributed DataFrame dataflow over
tables of multi-turn conversation/agent transcripts.

Stages (each a checkpointable DataFrame):

1. canonicalize — window-ordered per-conversation turn concatenation
   (operators/canonicalize.py)
2. exact dedup  — sha2 hash groupBy, the analog of the reference's Bloom
   short-circuit (/root/reference/core/similarity.go:55-61) (operators/dedup.py)
3. tokenize + TF-IDF — vectorized tokenization, corpus DF/IDF
   (functions/tokenize.py, operators/tfidf.py)
4. blocking — DataFrame-materialized inverted index (token → conv_id posting
   lists) with df-cap + hot-token salting, replacing the reference's
   province-city blocking key (/root/reference/core/similarity.go:658-668)
   (operators/blocking.py)
5. scoring — cosine over TF-IDF maps + Jaro-Winkler tie-break in one
   Arrow pass per batch of candidate pairs (operators/scoring.py), the analog of
   computeDocSimilarity (/root/reference/core/similarity.go:432-549)
6. clustering — iterative large-star/small-star connected components
   (operators/clustering.py), replacing greedy top-N
   (/root/reference/models/query.go:12-33) with transitive resolution.

Everything is public-API PySpark: DataFrame/SQL + Arrow-vectorized pandas
UDFs only where built-ins cannot express the semantics.
"""

__version__ = "0.1.0"
