package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale rehearsal data generator: replicates a driver-generated SF
  * directory N× into a new parquet directory, entirely on executors
  * (one `explode(sequence(...))` pass per table — no driver-side row
  * building), so the bench can be run one decade of scale above the
  * largest driver-provided SF.
  *
  * The replication is designed to preserve each query's OUTPUT SHAPE
  * while scaling its INPUT 10×, which is what a real 10× deployment
  * looks like:
  *
  *  - `region`/`nation` are copied as-is — dimension tables don't grow
  *    with deployment size, and scaling them would break the fixed
  *    5/25-row group-by cardinalities every oracle query has.
  *  - Fact keys (`custkey`, `orderkey`, `partkey`, `suppkey`,
  *    `event_id`, `user_id`, `doc_id`, `vec_id`) shift by
  *    `replica * KeyOffset`, consistently across tables, so
  *    orders↔lineitem / customer↔orders joins keep exactly one match
  *    per key and per-key group sizes stay flat.
  *  - Timestamps are NOT shifted: a 10× deployment sees 10× events in
  *    the same wall-clock window, so timeseries queries keep their
  *    bucket count and get 10× rows per bucket (the realistic load
  *    shape for zero-fill/granularity machinery).
  *  - `documents.text` gets a per-replica suffix on EVERY token
  *    (replica 0 is unmodified). Within a replica the token-overlap
  *    structure — exact dups, planted near-dups — is exactly the
  *    original's; across replicas shingle sets are disjoint, so the
  *    planted-duplicate RATE stays constant instead of every doc
  *    acquiring 9 cross-replica twins (which would inflate the
  *    candidate-verify stages quadratically and measure a data shape
  *    no real corpus has).
  *  - `embeddings.embedding` gets a per-replica SIGNED PERMUTATION
  *    (cyclic component shift + sign flips; replica 0 unmodified): an
  *    orthogonal transform, so within-replica inner products — the
  *    planted near-dup pairs, the IVF cluster geometry — are exactly
  *    preserved, while cross-replica pairs behave like independent
  *    random vectors (a sign-flip-only transform leaves self-copy
  *    cosines at Σ±v_j²/|v|² ≈ 0.5, polluting ANN top-k).
  *
  * Usage: `sbt "runMain graft.tools.ScaleUp"` with env
  *   SPARK_GRAFT_SCALE_SRC  (default /root/testdata/sf0.1)
  *   SPARK_GRAFT_SCALE_N    (default 10)
  *   SPARK_GRAFT_SCALE_OUT  (default target/testdata-sf1)
  */
object ScaleUp {

  /** Key shift per replica — far above any driver-generated key (sf0.1
    * orderkeys top out ~6e6) and far below Long overflow at replica 10. */
  val KeyOffset = 1000000000L

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SCALE_SRC", "/root/testdata/sf0.1")
    val n = sys.env.getOrElse("SPARK_GRAFT_SCALE_N", "10").toInt
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "target/testdata-sf1")
    val spark = Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    scaleAll(spark, src, out, n)
    spark.stop()
  }

  def scaleAll(spark: SparkSession, src: String, out: String, n: Int): Unit = {
    // loadRaw, not a plain parquet read: `events.ts` is TIMESTAMP(NANOS),
    // which Spark 4 rejects without the nanosAsLong conf. Reading AND
    // writing it as a raw int64 keeps the scaled table on the same
    // LongType code path (Catalog's raw-nanos pushdown, TableLoader's
    // div-1000 conversion) the driver's fixtures exercise.
    def read(t: String) = graft.sources.TableLoader.loadRaw(spark, src, t)
    // SPARK_GRAFT_SCALE_TABLES=documents,embeddings scales only those
    // tables — a 1000x documents-only corpus for the dedup/curation
    // invariants doesn't need 600M lineitem rows on disk
    val only: Set[String] = sys.env.get("SPARK_GRAFT_SCALE_TABLES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    def write(t: String)(df: => DataFrame): Unit =
      if (only.nonEmpty && !only(t))
        System.err.println(s"[scaleup] $t skipped (SPARK_GRAFT_SCALE_TABLES)")
      else {
        df.write.mode("overwrite").parquet(s"$out/$t.parquet")
        System.err.println(s"[scaleup] $t done")
      }

    // dims: verbatim copy
    Seq("region", "nation").foreach(t => write(t)(read(t)))

    // one exploded scan per fact table; `replica` is dropped after use
    def replicate(df: DataFrame): DataFrame =
      df.withColumn("replica", explode(sequence(lit(0L), lit((n - 1).toLong))))
    def shift(cols: String*)(df: DataFrame): DataFrame =
      cols.foldLeft(df)((d, c) =>
        d.withColumn(c, col(c) + col("replica") * KeyOffset))

    write("customer")(shift("c_custkey")(replicate(read("customer"))).drop("replica"))
    write("supplier")(shift("s_suppkey")(replicate(read("supplier"))).drop("replica"))
    write("part")(shift("p_partkey")(replicate(read("part"))).drop("replica"))
    write("orders")(shift("o_orderkey", "o_custkey")(replicate(read("orders")))
      .drop("replica"))
    write("lineitem")(shift("l_orderkey", "l_partkey", "l_suppkey")(
      replicate(read("lineitem"))).drop("replica"))
    write("events")(shift("event_id", "user_id")(replicate(read("events")))
      .drop("replica"))

    // documents: suffix every token with the replica id (replica 0 verbatim),
    // so cross-replica shingle sets are disjoint; n_chars tracks the new text.
    // Tokenize with the SAME \s+ semantics as the dedup path (split_ws after
    // trim): splitting on a single space would turn whitespace runs in base
    // docs into empty-token "_r" artifacts and silently normalize replica
    // whitespace — replica tokenization would then differ from the base
    // corpus, breaking the within-replica-structure-identical invariant
    // ScaleInvariants relies on.
    val docs = replicate(read("documents"))
      .withColumn("doc_id", col("doc_id") + col("replica") * KeyOffset)
      .withColumn("text",
        when(col("replica") === 0, col("text")).otherwise(
          concat_ws(" ", transform(
            graft.functions.TextHashFunctions.split_ws(trim(col("text"))),
            w => concat(w, lit("_"), col("replica"))))))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("replica")
    write("documents")(docs)

    // embeddings: per-replica SIGNED PERMUTATION — cyclic component shift
    // (offset never 0 for replica ≥ 1) composed with deterministic sign
    // flips; replica 0 verbatim. Still orthogonal, so within-replica inner
    // products — planted near-dup pairs, IVF geometry — are exactly
    // preserved. A sign-flip-only transform is NOT enough: the cosine of a
    // vector against its own flipped copy is a signed sum of SQUARES
    // (Σ±v_j²/|v|²), which doesn't concentrate near zero — measured ~0.5+
    // self-copy cosines at N=100 polluted every ANN top-k. With the shift,
    // cross-replica products mix DIFFERENT components and behave like
    // independent random vectors (≈N(0, 1/d) per pair — note the extreme-
    // value tail: at N× corpus the global brute-force top-k legitimately
    // gains cross-replica neighbors; that is real data behavior, not an
    // artifact).
    val emb = replicate(read("embeddings"))
      .withColumn("vec_id", col("vec_id") + col("replica") * KeyOffset)
      .withColumn("embedding",
        when(col("replica") === 0, col("embedding")).otherwise {
          val d = size(col("embedding"))
          val shift = pmod(col("replica") - 1, d - 1) + 1
          transform(sequence(lit(0), d - 1), j => {
            val src = element_at(col("embedding"),
              (pmod(j + shift, d) + 1).cast("int"))
            when(pmod(hash(col("replica"), j), lit(2)) === 0, src)
              .otherwise(-src).cast("float")
          })
        })
      .drop("replica")
    write("embeddings")(emb)
  }
}
