package graft.operators

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** Session-scoped MATERIALIZED SIGNATURE STORE for the MinHash/LSH
  * dedup family.
  *
  * Four registered queries (`minhash_lsh`, `fuzzy_pairs`,
  * `dedup_clusters_lsh`, `dedup_incremental`) consume the same
  * shingle → minhash-signature → banded-bucket pipeline head — the
  * expensive part of every near-dup operator (corpus scan, tokenize,
  * explode, distinct, df-cap window, 64-min UDAF). Before this store
  * each query rebuilt that head from the raw corpus; a suite run paid
  * it four times, and at 100 TB a production deployment would never
  * do that — it lands the signature artifacts in cluster storage once
  * (they are per-doc-bounded: ≤1 row per capped shingle occurrence,
  * doc_id + 64 int64s, 16 narrow band rows/doc) and every dedup job
  * reads the store. This object is that store, scratch-parquet-backed
  * and keyed by (dataset dir, shingle df-cap, hash family params) so
  * distinct corpora or parameterizations never collide.
  *
  * Concurrency/staleness: artifact roots are MONOTONICALLY UNIQUE per
  * build (an AtomicInteger, never recycled — a previously returned
  * reader can never observe its path overwritten), and
  * `computeIfAbsent` serializes the build per key, so concurrent
  * callers in one JVM get one build and the same path. Paths from a
  * previous JVM are never re-registered — a new JVM rebuilds from the
  * corpus (mode=overwrite makes the re-write safe).
  *
  * Derivation chain: `shingles` is written from the one corpus pass;
  * `sig` is aggregated FROM the landed shingles parquet; `banded`
  * expands FROM the landed sig parquet — so the corpus head executes
  * exactly once per key no matter how many artifacts are read later.
  */
object SigStore {

  private final case class Key(dir: String, maxDf: Int, nH: Int, bands: Int)

  private val stores = new ConcurrentHashMap[Key, String]()
  private val pairs  = new ConcurrentHashMap[(Key, Double, Int), String]()
  private val exact  = new ConcurrentHashMap[(Key, Double), String]()
  private val ids    = new AtomicInteger(0)
  /** Build counter — exposed so DedupSpec can pin build-once reuse. */
  private[graft] val buildCount = new AtomicInteger(0)
  /** Exact-pair build counter — exposed so PipelineSpec can pin that
    * the five exact-graph consumers share one landed artifact. */
  private[graft] val exactBuildCount = new AtomicInteger(0)

  /** Handle over the landed artifacts; DataFrames are fresh parquet
    * reads bound to the CALLER's session (the cache holds only
    * paths, so sessions across test suites interoperate), through
    * `Tables.parquet`, so a re-read starts no schema-inference job. */
  final case class Store(root: String) {
    def shingles(s: SparkSession): DataFrame = Tables.parquet(s, s"$root/shingles")
    def sig(s: SparkSession): DataFrame      = Tables.parquet(s, s"$root/sig")
    def banded(s: SparkSession): DataFrame   = Tables.parquet(s, s"$root/banded")
  }

  /** The store for a dataset dir, building it on first request. */
  def forDataset(s: SparkSession, d: String,
                 maxDf: Int = Dedup.MaxShingleDf): Store = {
    val key = Key(d, maxDf, Dedup.NumHashes, Dedup.Bands)
    Store(stores.computeIfAbsent(key, _ => build(s, d, maxDf)))
  }

  private def build(s: SparkSession, d: String, maxDf: Int): String = {
    buildCount.incrementAndGet()
    val root = graft.Scratch.processScoped("graft_sigstore",
      s"s${ids.getAndIncrement()}").toString
    Dedup.cappedShingles(s, d, maxDf)
      .write.mode("overwrite").parquet(s"$root/shingles")
    Dedup.minhashSignaturesMd5From(Tables.parquet(s, s"$root/shingles"))
      .write.mode("overwrite").parquet(s"$root/sig")
    Dedup.bandedFrom(Tables.parquet(s, s"$root/sig"))
      .write.mode("overwrite").parquet(s"$root/banded")
    root
  }

  /** LSH candidate pairs with signature-agreement estimate, computed
    * from the store artifacts and themselves landed + cached per
    * (key, minEst, maxBucket) — so `fuzzy_pairs` reuses the exact
    * pair set `minhash_lsh` already wrote instead of re-running the
    * band self-join. */
  def lshPairs(s: SparkSession, d: String,
               minEst: Double = 0.5, maxBucket: Int = Dedup.LshMaxBucket,
               maxDf: Int = Dedup.MaxShingleDf): DataFrame = {
    val key = (Key(d, maxDf, Dedup.NumHashes, Dedup.Bands), minEst, maxBucket)
    val path = pairs.computeIfAbsent(key, _ => {
      val st = forDataset(s, d, maxDf)
      val out = s"${st.root}/pairs_${ids.getAndIncrement()}"
      Dedup.lshPairsFrom(st.banded(s), st.sig(s), minEst, maxBucket)
        .write.mode("overwrite").parquet(out)
      out
    })
    Tables.parquet(s, path)
  }

  private val lshVerified =
    new ConcurrentHashMap[(Key, Double, Double, Int), String]()

  /** Landed LSH-VERIFIED pair graph (r19): candidate generation from
    * the banded artifact + exact-Jaccard verification against the
    * landed shingles, run once per (dataset, minJ, minEst) and landed
    * — the scale-path twin of [[exactPairs]]. `dedup_clusters_lsh`'s
    * steady-state is then the CC loop over a pair-bounded parquet
    * scan; the verify joins never re-run within a deployment epoch. */
  def verifiedLshPairs(s: SparkSession, d: String, minJ: Double = 0.5,
                       minEst: Double = 0.35,
                       maxBucket: Int = Dedup.LshMaxBucket,
                       maxDf: Int = Dedup.MaxShingleDf): DataFrame = {
    val key = (Key(d, maxDf, Dedup.NumHashes, Dedup.Bands),
      minJ, minEst, maxBucket)
    val path = lshVerified.computeIfAbsent(key, _ => {
      val st = forDataset(s, d, maxDf)
      val out = s"${st.root}/lshverified_${ids.getAndIncrement()}"
      // maxDf/maxBucket forwarded: candidates and verify shingles must
      // come from the SAME parameterization or the landed artifact
      // matches neither
      PipelineOps.lshVerify(st.shingles(s),
          lshPairs(s, d, minEst, maxBucket, maxDf)
            .select("doc_a", "doc_b"), minJ)
        .write.mode("overwrite").parquet(out)
      out
    })
    Tables.parquet(s, path)
  }

  /** Landed EXACT-Jaccard near-dup pair graph — the verified pair set
    * a production dedup pipeline persists before anything consumes it.
    * Five registered queries read this one artifact (`neardup_jaccard`,
    * `dedup_clusters`, `keep_one_per_cluster`, `triangle_count`,
    * `pagerank_docs`); before it each recomputed the shingle self-join
    * from the corpus, so a suite paid the most expensive relation in
    * the family five times. Derived FROM the landed shingles parquet
    * (the store's derivation-chain rule), so the corpus head still
    * executes exactly once per dataset. */
  def exactPairs(s: SparkSession, d: String, minJ: Double = 0.5,
                 maxDf: Int = Dedup.MaxShingleDf): DataFrame = {
    val key = (Key(d, maxDf, Dedup.NumHashes, Dedup.Bands), minJ)
    val path = exact.computeIfAbsent(key, _ => {
      exactBuildCount.incrementAndGet()
      val st = forDataset(s, d, maxDf)
      val out = s"${st.root}/exact_${ids.getAndIncrement()}"
      Dedup.neardupJaccardFromShingles(st.shingles(s), minJ)
        .write.mode("overwrite").parquet(out)
      out
    })
    Tables.parquet(s, path)
  }
}
