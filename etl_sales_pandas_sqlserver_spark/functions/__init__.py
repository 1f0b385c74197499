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

CACHE DISCIPLINE (r12, verified): AQE exchange reuse does NOT fire
across diverging aggregate subplans, so whenever TWO consumers read
one expensive derived frame (the bigram-LM scored projection, a
narrow token-count projection, a staged frame), register the narrow
projection through :func:`..cache.managed_cache` instead of relying
on plan-level reuse -- uncached, each consumer silently re-runs the
full build (e.g. the whole corpus LM score, twice). Pattern instances:
``currpack._packed_docs`` (the staged frame),
``sharding.q_shard_manifest_tokens``. A frame that several QUERIES of
one session share (the LM score feed, curriculum's scored documents)
goes through :func:`..cache.memo` instead.
"""
