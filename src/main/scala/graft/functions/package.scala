package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft._

/** Column-API for the engine's native expressions (no session-level
  * registration needed; SQL names come from [[GraftFunctions]]).
  */
package object functions {

  import Bridge.{column, expression}

  /** GDPR IP anonymization (reference `anonymize_ip` semantics). */
  def anonymize_ip(c: Column): Column = column(AnonymizeIp(expression(c)))

  /** Serialize HttpLogRecord fields into a framed capnp message. */
  def capnp_encode_http_log(tsMilli: Column, resourceId: Column, bytesSent: Column,
                            requestTimeMilli: Column, responseStatus: Column,
                            cacheStatus: Column, method: Column, remoteAddr: Column,
                            url: Column): Column =
    column(CapnpEncodeHttpLog(Seq(
      tsMilli, resourceId, bytesSent, requestTimeMilli, responseStatus,
      cacheStatus, method, remoteAddr, url).map(expression)))

  /** Parse a framed capnp HttpLogRecord; null struct on malformed input. */
  def capnp_decode_http_log(c: Column): Column = column(CapnpDecodeHttpLog(expression(c)))

  /** Optimization fence: identity, but Catalyst will not duplicate the
    * wrapped expression into pushed-down filters or collapsed projects.
    * Wrap the single evaluation point of an expensive expression.
    */
  def opt_fence(c: Column): Column = column(OptFence(expression(c)))

  /** Aggregate: keep the payload struct of the highest `version` per group
    * (ReplacingMergeTree-FINAL keep-latest). Plans as ObjectHashAggregate —
    * no SortAggregate demotion like max_by/max(struct).
    */
  def keep_latest(version: Column, payload: Column): Column =
    column(KeepLatest(expression(version), expression(payload)).toAggregateExpression())

  /** Aggregate: SpaceSaving heavy hitters over a long column — k-bounded
    * frequency estimation (the `approx_top_k` OSS Spark lacks). Returns
    * `array<struct<value, est, err>>` sorted by est desc; true ≤ est ≤
    * true+err for every tracked value. Presence bound: > n/k true
    * frequency in a single sketch, > 2n/k once sketches merge — and any
    * multi-partition aggregate merges, so design to the 2n/k bound (the
    * merge's per-side min-count additions can double the est-sum before
    * the trim; see sql.graft.HeavyHitters for the derivation).
    * Plans as ObjectHashAggregate with map-side combine — k entries cross
    * the wire per partition instead of every distinct value.
    */
  def heavy_hitters(value: Column, k: Int): Column =
    column(HeavyHitters(expression(value), k).toAggregateExpression())

  /** Distinct hashes of word k-gram shingles of normalized text. */
  def word_shingles(c: Column, k: Int = 3): Column = column(WordShingles(expression(c), k))

  /** n-element MinHash signature over a [[word_shingles]] hash array. */
  def minhash_sig_arr(sh: Column, n: Int = 128): Column =
    column(MinHashSigFromShingles(expression(sh), n))

  /** Weighted MinHash signature over pre-hashed shingles + integer weights. */
  def minhash_sig_weighted(sh: Column, w: Column, n: Int = 128): Column =
    column(MinHashSigWeighted(expression(sh), expression(w), n))

  /** Σ weight over the sorted-merge intersection of two ascending shingle
    * arrays; weights aligned to A's shingles (global idf → A's weight is the
    * pair's weight).
    */
  def weighted_intersect_sum(shsA: Column, wsA: Column, shsB: Column): Column =
    column(WeightedIntersectSum(expression(shsA), expression(wsA), expression(shsB)))

  /** |A ∩ B| of two ascending long arrays by sorted merge. */
  def sorted_intersect_count(a: Column, b: Column): Column =
    column(SortedIntersectCount(expression(a), expression(b)))

  /** Per-shingle idf weights: binary-search each ascending shingle in the
    * ascending exception-key array (ws aligned), `default` for misses.
    */
  def weights_for(sh: Column, keys: Column, ws: Column, default: Int): Column =
    column(WeightsFor(expression(sh), expression(keys), expression(ws), default))

  /** Aggregate: collect a group's longs up to `cap` of them, sorted
    * ascending; NULL once the group crosses the cap (LSH hot-bucket drop).
    */
  def collect_capped(v: Column, cap: Int): Column =
    column(CollectCappedLongs(expression(v), cap).toAggregateExpression())

  /** One hashed LSH key per signature band. */
  def lsh_band_keys(sig: Column, bands: Int = 32): Column =
    column(LshBandKeys(expression(sig), bands))

  /** 64-bit SimHash of unigram tokens. */
  def simhash64(c: Column): Column = column(SimHash64(expression(c)))

  /** Unicode NFC canonical composition (allocation-free on composed input). */
  def nfc_normalize(c: Column): Column = column(NfcNormalize(expression(c)))

  /** Winnowing fingerprint hashes (distinct, sorted). */
  def winnow(c: Column, k: Int = 8, w: Int = 4): Column = column(Winnow(expression(c), k, w))

  /** Heuristic language identification ("en"/"de"/"fr"/"es"/"zh"/"und"). */
  def lang_id(c: Column): Column = column(LangId(expression(c)))

  /** Cosine similarity of two float-array embeddings, in double precision. */
  def vec_cosine(a: Column, b: Column): Column = column(VecCosine(expression(a), expression(b)))

  /** Random-hyperplane LSH keys, one per table. */
  def hyperplane_sketches(c: Column, tables: Int = 4, bits: Int = 8): Column =
    column(HyperplaneSketches(expression(c), tables, bits))
}
