package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.dedup.{Clusters, MinHashLSH}
import graft.io.Sinks
import graft.ops.Reshape
import graft.pipeline.{ConsumeJob, ConsumeParams, ConsumePipeline}

/** The three workloads against the program's public entry points, untraced
  * and traced. Untraced runs call the entry point exactly as a user does;
  * traced runs call each layer's public function in pipeline order, one span
  * per call, each span materialising the output of the function it wraps.
  */
object Workloads {

  /** The columns of the consume pipeline's result, as the shipped oracle
    * emits them.
    */
  val ConsumeCols = Seq("user_id", "event_type", "ts", "value",
    "last_signup_value", "n_clicks", "click_value", "n_views", "c_name",
    "c_mktsegment", "price_src", "geoid", "n_name", "partition_month",
    "iteration")
  val DedupCols = Seq("doc_id", "lang", "source", "n_chars")
  // `MinHashLSH.nearDuplicates` defaults, so the traced stages match it
  val NumHashes = 72
  val Bands = 6
  val Threshold = 0.95

  /** Order-independent checksum: (rows, sum of md5 bits 0-31, bits 32-63)
    * over a canonical text form of each row — columns by name, timestamps
    * as epoch microseconds, doubles as round(x * 1000), nulls as `~`. The
    * gate computes the same form in DuckDB.
    */
  def checksum(df: DataFrame): Seq[Long] = {
    val canon = df.schema.fields.sortBy(_.name).toSeq.map { f =>
      val c = col(f.name)
      val s = f.dataType match {
        case TimestampType | TimestampNTZType => unix_micros(c.cast(TimestampType)).cast("string")
        case DoubleType | FloatType => round(c * 1000).cast("long").cast("string")
        case _ => c.cast("string")
      }
      coalesce(s, lit("~"))
    }
    val h = md5(concat_ws("|", canon: _*))
    val r = df.select(
        conv(substring(h, 1, 8), 16, 10).cast("long").as("a"),
        conv(substring(h, 9, 8), 16, 10).cast("long").as("b"))
      .agg(count(lit(1)), coalesce(sum("a"), lit(0L)), coalesce(sum("b"), lit(0L)))
      .first()
    Seq(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** The source listing that ends set-up: the first table the job reads. */
  def firstListing(spark: SparkSession, workload: String, dir: String): Unit =
    if (workload == "corpus_neardup") Tables.documents(spark, dir)
    else Tables.events(spark, dir)

  /** One untraced job invocation; the checksum of a materialised result,
    * or None when the result is the committed output under `out`.
    */
  def run(spark: SparkSession, workload: String, dir: String, out: String): Option[Seq[Long]] =
    workload match {
      case "consume_daily" =>
        ConsumeJob.run(spark, dir, out)
        None
      case "consume_refresh_skewed" =>
        Some(checksum(ConsumePipeline.build(spark, dir)))
      case "corpus_neardup" =>
        val docs = Tables.documents(spark, dir)
        val pairs = MinHashLSH.nearDuplicates(docs, col("doc_id"), col("text"),
          threshold = Threshold).select("id_a", "id_b")
        Some(checksum(Clusters.dropNearDuplicates(docs, col("doc_id"), pairs)
          .select(DedupCols.map(col): _*)))
    }

  def traced(spark: SparkSession, workload: String, dir: String, out: String,
             tr: Tracer): Option[Seq[Long]] =
    tr.span("job", "job") { _ =>
      workload match {
        case "consume_daily" => tracedConsume(spark, dir, Some(out), tr)
        case "consume_refresh_skewed" => tracedConsume(spark, dir, None, tr)
        case "corpus_neardup" => Some(tracedCorpus(spark, dir, tr))
      }
    }

  private def counted(s: Tracer#Span, df: DataFrame, key: String = "rows_out"): DataFrame = {
    s.extra(key) = df.count()
    df
  }

  /** `ConsumeJob.run` (with `sinks`) or `ConsumePipeline.build` (without),
    * stage by stage.
    */
  private def tracedConsume(spark: SparkSession, dir: String, sinks: Option[String],
                            tr: Tracer): Option[Seq[Long]] = {
    val params = ConsumeParams()
    val (events, customer, orders, nation) = tr.span("tables.load", "tables") { s =>
      val e = Tables.events(spark, dir).cache()
      val c = Tables.customer(spark, dir)
      val o = Tables.orders(spark, dir)
      val n = Tables.nation(spark, dir)
      s.extra("rows_read") = e.count() + c.count() + o.count() + n.count()
      (e, c, o, n)
    }
    val repaired = tr.span("pipeline.repair_cdc", "pipeline") { s =>
      counted(s, ConsumePipeline.repairCdc(events).cache())
    }
    val side = tr.span("pipeline.side_inputs", "pipeline") { s =>
      val si = ConsumePipeline.SideInputs(orders, events, params.activityFrom,
        params.activityTo).cache()
      s.extra("rows_out") = si.active.count() + si.userStats.count()
      si
    }
    val base1All = tr.span("pipeline.base_first", "pipeline") { s =>
      counted(s, ConsumePipeline.baseFirst(ConsumePipeline.alignRepaired(repaired),
        customer).cache())
    }
    val outs = params.iterations.map { it =>
      val b2 = tr.span(s"pipeline.enrich.${it.name}", "pipeline") { s =>
        counted(s, ConsumePipeline.enrich(base1All.filter(it.filter), side).cache())
      }
      // the users stage 3's invalid-id rule drops, counted outside its span
      val invalid = b2.groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase", col("ts"))).as("f"), max("ts").as("a"))
        .filter(col("f") < col("a")).count()
      val b3 = tr.span(s"pipeline.base_final.${it.name}", "pipeline") { s =>
        s.extra("invalid_users") = invalid
        counted(s, ConsumePipeline.baseFinal(b2, params.monthStart, params.monthEnd).cache())
      }
      val out = tr.span(s"pipeline.modify.${it.name}", "pipeline") { s =>
        counted(s, ConsumePipeline.modify(b3, nation).withColumn("iteration", lit(it.name)).cache())
      }
      sinks.foreach { dirOut =>
        tr.span(s"sinks.gzip_json.${it.name}", "sinks") { _ =>
          Sinks.gzipJson(Reshape.nestSchema(out.select("user_id", "event_type",
            "price_src", "partition_month", "n_name", "n_clicks", "n_views")),
            s"$dirOut/json/${it.name}")
        }
        tr.span(s"sinks.gzip_csv.${it.name}", "sinks") { _ =>
          Sinks.gzipCsv(out.drop("props"), s"$dirOut/csv/${it.name}")
        }
      }
      out
    }
    val union = outs.reduce(_ unionByName _)
    sinks match {
      case Some(dirOut) =>
        tr.span("sinks.overwrite_partitions", "sinks") { _ =>
          Sinks.overwritePartitions(union, s"$dirOut/table", "partition_month")
        }
        None
      case None =>
        Some(tr.span("pipeline.result", "pipeline") { _ =>
          checksum(union.select(ConsumeCols.map(col): _*))
        })
    }
  }

  /** `nearDuplicates` + `dropNearDuplicates`, with its stages called one by
    * one first: signatures, candidate pairs, verified pairs, components.
    */
  private def tracedCorpus(spark: SparkSession, dir: String, tr: Tracer): Seq[Long] = {
    val docs = tr.span("tables.load", "tables") { s =>
      val d = Tables.documents(spark, dir).cache()
      s.extra("rows_read") = d.count()
      d
    }
    val sigs = tr.span("dedup.signatures", "dedup") { s =>
      counted(s, MinHashLSH.signatures(docs, col("doc_id"), col("text"), NumHashes, 1, 42L).cache())
    }
    tr.span("dedup.candidate_pairs", "dedup") { s =>
      counted(s, MinHashLSH.candidatePairs(sigs, Bands, NumHashes).cache(), "candidate_pairs")
    }
    val pairs = tr.span("dedup.near_duplicates", "dedup") { s =>
      counted(s, MinHashLSH.nearDuplicates(docs, col("doc_id"), col("text"),
        threshold = Threshold).select("id_a", "id_b").cache(), "verified_pairs")
    }
    tr.span("dedup.components", "dedup") { s =>
      counted(s, Clusters.connectedComponents(pairs).cache())
    }
    tr.span("dedup.drop_near_duplicates", "dedup") { s =>
      val kept = Clusters.dropNearDuplicates(docs, col("doc_id"), pairs)
        .select(DedupCols.map(col): _*)
      val c = checksum(kept)
      s.extra("docs_dropped") = docs.count() - c.head
      c
    }
  }
}
