"""Engine operators beyond vanilla DataFrame verbs.

- dedup: exact + deterministic keep-first + MinHash-LSH / SimHash /
  n-gram-Jaccard / embedding-cosine / semantic (SemDeDup) near-duplicate
  detection, repeated-span reports, benchmark decontamination
- asof: as-of join (latest snapshot ≤ event time) via window functions
- similarity: cosine top-k search (brute force + LSH / IVF ANN)
- text: language ID, quality scoring, token counts, fingerprints,
  repetition signals
- embeddings: int8 quantize, matryoshka truncate
- layout: z-order clustering keys
- splits: deterministic train/val/test split, nested sampling, source
  mixing, sequence packing, mix entropy/KL diagnostics, top-p coverage
- multimodal: binary-column plumbing for image/audio payloads
- sessions / sketches / skew / redact: sessionization + interval-sweep
  concurrency, exact distinct counts + bounded-state heavy hitters +
  value-domain exact quantiles, skew mitigation, PII scrubbing
- stats: exact-moment statistics (engine-exact floats from integer
  moments): correlation matrix, per-group OLS, A/B readout with SRM
  guard, CUPED variance reduction, PSI dataset drift
- simjoin: exact all-pairs sparse cosine via inverted index + exact
  Jaccard-threshold join via prefix filtering
- pruning: Bloom-filter join pruning (drop non-matching fact rows
  before the shuffle)
- urls: URL canonicalization key, registrable-domain rollup,
  blocklist audit via the host suffix-chain equi-join
  (the WARC path's address-side normalization)
- geo: grid-blocked haversine radius/kNN join
- graph: fixed-point PageRank, degree-oriented triangle counting,
  bounded-hop BFS (engine-exact integer iteration; CC lives in dedup)
- lm: bigram language-model scoring + DSIR domain weights + the
  CCNet-style per-group perplexity gate
- timeseries: per-key EWMA (recursive scan), z-score anomaly screen,
  per-month activity bitmasks
- ranking: distributed global row_number / ntile (no single-partition
  window)
- parallelism: input-width guard for compute-dense narrow pipelines
"""
