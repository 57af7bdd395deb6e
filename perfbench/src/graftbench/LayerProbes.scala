package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.sources.{AvroEnvelope, Formats}

/** Rows per second of the `functions` kernels and the `sources` envelope
  * parsers, each timed from outside through its public entry point on
  * inputs generated from the run's seed and cached first.
  */
object LayerProbes {
  val KernelRows = 20000L
  val SourceRows = 30000L
  val Reps = 2

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    GraftFunctions.register(spark)
    val seed = ctx.opts.seed

    def vec(salt: Int) =
      s"transform(sequence(0, 63), d -> CAST(((xxhash64(id, d, $seed, $salt) & 2047) - 1024) / 1024.0 AS FLOAT))"
    def shingles(salt: Int) = s"transform(sequence(0, 49), i -> xxhash64(id, i, $seed, $salt) & 4095)"
    val base = spark
      .range(KernelRows)
      .selectExpr(
        "id",
        s"${vec(1)} AS a",
        s"${vec(2)} AS b",
        s"${shingles(3)} AS s1",
        s"${shingles(4)} AS s2",
        s"concat('doc-', id, '-', $seed) AS t",
        "id % 1000 AS p",
        s"array_distinct(transform(sequence(0, 31), i -> (xxhash64(id, i, $seed, 5) & 1023))) AS cands")
      .cache()
    base.count()
    val corpus = spark
      .range(1024)
      .selectExpr("struct(id AS v, " + vec(1) + " AS emb) AS e")
      .agg(sort_array(collect_list(col("e"))).as("corpus"))
    val pruneIn = base.select("p", "cands").limit(2000).crossJoin(broadcast(corpus)).cache()
    pruneIn.count()

    def probe(layer: String, name: String, rows: Long)(frame: => DataFrame): Unit = {
      frame.write.format("noop").mode("overwrite").save() // compile + warm
      val times = (1 to Reps).map { _ =>
        val t0 = Clock.nowMs
        frame.write.format("noop").mode("overwrite").save()
        val t1 = Clock.nowMs
        ctx.tracer.add(name, layer, t0, t1)
        (t1 - t0) / 1000.0
      }
      ctx.result.layerMetric(s"$layer.${name}_rows_per_s", rows / Stats.median(times), "1/s")
    }

    def kernel(name: String, sql: String, input: DataFrame = base, rows: Long = KernelRows): Unit =
      probe("functions", name, rows)(input.selectExpr(s"$sql AS k"))

    kernel("cosine_sim", "cosine_sim(a, b)")
    kernel("minhash_sig", "minhash_sig(s1)")
    kernel("simhash64", "simhash64(s1)")
    kernel("lsh_bucket", "lsh_bucket(a, 0, 16)")
    kernel("hash60", "hash60(t)")
    kernel("rp_project", "rp_project(a, 16)")
    kernel("intersect_card", "intersect_card(s1, s2)")
    kernel("robust_prune_idx", "robust_prune_idx(p, cands, corpus, 8, 6, 5)", pruneIn, 2000)

    val envelopes = spark
      .range(SourceRows)
      .select(
        col("id"),
        xxhash64(col("id"), lit(seed), lit(6)).bitwiseAND(4095).as("user_id"),
        format_string("{\"k\": %d}", col("id") % 100).as("account"),
        (lit(1704067200000000L) + col("id") * 1000).as("registered_at"),
        when(col("id") % 5 === 4, "true").otherwise("false").as("__deleted"),
        when(col("id") % 5 === 0, "insert").when(col("id") % 5 === 4, "delete").otherwise("update").as("type"))
      .cache()
    val debezium = envelopes
      .select(to_json(struct(col("id"), col("user_id"), col("account"), col("registered_at"), col("__deleted"))).as("value"))
      .cache()
    val maxwell = envelopes
      .select(to_json(struct(
        lit("bankdb").as("database"),
        lit("bank_accounts").as("table"),
        col("type"),
        (col("registered_at") / 1000000).cast("long").as("ts"),
        struct(col("id"), col("user_id"), col("account"), lit(1.5).as("value")).as("data"))).as("value"))
      .cache()
    val avro = AvroEnvelope.encode(envelopes).cache()
    Seq(debezium.count(), maxwell.count(), avro.count())
    probe("sources", "debezium_json", SourceRows)(Formats.parseDebezium(debezium, col("value")))
    probe("sources", "maxwell", SourceRows)(Formats.parseMaxwell(maxwell, col("value")))
    probe("sources", "avro", SourceRows)(AvroEnvelope.parseDebeziumAvro(avro))
    ctx.sweep()
  }
}
