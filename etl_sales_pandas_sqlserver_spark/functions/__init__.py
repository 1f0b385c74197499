"""Training-data pipeline functions (Layer B north-star scope).

The reference (AlvaroFS99/etl-sales-pandas-sqlserver) is a batch sales
ETL with no text/dedup/similarity surface; this package generalizes the
engine to the operations a large-scale LLM training-data pipeline needs:

- :mod:`textstats`   -- token counting, quality scoring, language ID,
  document fingerprinting over the ``documents`` table.
- :mod:`dedup`       -- exact, n-gram-Jaccard, MinHash+LSH, SimHash and
  embedding-cosine near-duplicate detection.
- :mod:`similarity`  -- cosine top-k search over ``embeddings`` (exact
  baseline + LSH-bucketed ANN scale path).
- :mod:`multimodal`  -- opaque-binary column plumbing with Arrow-batched
  ``mapInPandas`` feature extraction (decode stubbed; schema/batching
  real).

Everything is built from JVM-side ``pyspark.sql.functions`` expressions
except where Python is genuinely required (multimodal decode), which
uses Arrow-batched pandas iterators -- never row-at-a-time UDFs.

CACHE DISCIPLINE: a frame that two consumers read -- two queries of
one session, or two branches of one query's plan -- goes through
:func:`..cache.memo`. AQE exchange reuse does NOT fire across diverging
aggregate subplans, so without the memo each consumer silently re-runs
the full build (e.g. the whole corpus LM score, twice).
"""
