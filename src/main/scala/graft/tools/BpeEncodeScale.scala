package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Env
import graft.text.Bpe

/** Measured tokenizer-APPLY at real vocabulary scale (r12 verdict ask #1):
  * sweep the merge count over a trained table (BpeZipf's TSV) and record,
  * per size,
  *
  *  - NATIVE path ([[Bpe.encode]], table as one codegen reference object):
  *    plan-build seconds and execution seconds over the FULL Zipf corpus —
  *    the production number;
  *  - FOLD path ([[Bpe.encodeFolded]], one `aggregate` per rank): measured
  *    on a SUBSAMPLE (`foldDocs`, default 2,000 — the per-rank interpreted
  *    chain is minutes/1k-docs at production sizes; the full corpus would
  *    be hours and prove nothing new), with the native path re-run on the
  *    same subsample so exec compares apples-to-apples and the token
  *    counts cross-check. The fold needs a 512 MB driver stack (recursive
  *    Column-node conversion) and `spark.sql.analyzer.maxIterations`
  *    raised to the table size (nested-lambda resolution advances ~one
  *    layer per iteration); the harness grants both and reports the first
  *    size where plan-build exceeds `foldTimeoutSec` — or dies — as the
  *    wall.
  *
  * Usage:
  * {{{
  *   runMain graft.tools.BpeEncodeScale <mergesTsv> <nDocs> <wordsPerDoc> \
  *     [sizesCsv=256,1024,4096,16384] [foldTimeoutSec=300] [foldDocs=2000]
  * }}}
  */
object BpeEncodeScale {

  private def onBigStack[T](f: => T): T = {
    @volatile var out: Either[Throwable, T] = Left(new IllegalStateException(
      "big-stack thread produced nothing"))
    val t = new Thread(null,
      () => out = try Right(f) catch { case e: Throwable => Left(e) },
      "bpe-fold-big-stack", 1L << 29)
    t.start(); t.join()
    out.fold(e => throw e, identity)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: BpeEncodeScale <mergesTsv> <nDocs> <wordsPerDoc> [sizesCsv] " +
        "[foldTimeoutSec] [foldDocs]")
    val tsv = args(0)
    val nDocs = args(1).toLong
    val wordsPerDoc = args(2).toInt
    val sizes = args.lift(3)
      .map(_.split(',').map(_.trim.toInt).toSeq)
      .getOrElse(Seq(256, 1024, 4096, 16384))
    val foldTimeoutSec = args.lift(4).map(_.toDouble).getOrElse(300.0)
    val foldDocs = args.lift(5).map(_.toInt).getOrElse(2000)
    val all = scala.io.Source.fromFile(tsv, "UTF-8").getLines()
      .filter(_.nonEmpty)
      .map { l => val p = l.split('\t'); (p(0), p(1)) }.toSeq
    require(all.size >= sizes.max,
      s"table has ${all.size} merges; largest requested size ${sizes.max}")
    val spark = Env.session()
    val docs = BpeZipf.corpus(spark, nDocs, wordsPerDoc, vocab = 50000)
      .persist()
    val sub = docs.filter(col("doc_id") < foldDocs).persist()
    val nWords = docs.select(sum(size(split(col("text"), " "))))
      .head.getLong(0)
    System.err.println(s"[bpe-scale] corpus: $nDocs docs, $nWords words; " +
      s"fold subsample $foldDocs docs")

    /** (plan-build sec, exec sec, n_bpe_tokens). */
    def measure(mk: => DataFrame): (Double, Double, Long) = {
      val t0 = System.nanoTime()
      val df = mk.agg(sum("n_bpe_tokens").as("n"))
      df.queryExecution.executedPlan // force analysis + physical planning
      val tPlan = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val n = df.head.getLong(0)
      val tExec = (System.nanoTime() - t1) / 1e9
      (tPlan, tExec, n)
    }

    var foldWalled = false
    val rows = sizes.map { n =>
      val table = all.take(n)
      val (nPlan, nExec, nTok) = measure(
        Bpe.encode(docs, col("doc_id"), col("text"), table))
      System.err.println(f"[bpe-scale] native-full n=$n plan=$nPlan%.2f s " +
        f"exec=$nExec%.1f s tokens=$nTok")
      val (_, nSubExec, nSubTok) = measure(
        Bpe.encode(sub, col("doc_id"), col("text"), table))
      val fold: Option[(Double, Double)] =
        if (foldWalled || foldTimeoutSec <= 0) None
        else {
          val prev = spark.conf.getOption("spark.sql.analyzer.maxIterations")
          spark.conf.set("spark.sql.analyzer.maxIterations", n + 64)
          val t0 = System.nanoTime()
          val r = try {
            val (fp, fx, ft) = onBigStack(measure(
              Bpe.encodeFolded(sub, col("doc_id"), col("text"), table)))
            require(ft == nSubTok,
              s"fold/native token mismatch at $n: $ft vs $nSubTok")
            if (fp > foldTimeoutSec) foldWalled = true
            System.err.println(f"[bpe-scale] fold-sub    n=$n plan=$fp%.2f s " +
              f"exec=$fx%.1f s (native-sub exec=$nSubExec%.2f s, tokens ok)")
            Some((fp, fx))
          } catch {
            case e: Throwable =>
              System.err.println(s"[bpe-scale] fold n=$n DIED after " +
                f"${(System.nanoTime() - t0) / 1e9}%.1f s: " +
                e.toString.take(150))
              foldWalled = true
              None
          } finally {
            prev.fold(spark.conf.unset("spark.sql.analyzer.maxIterations"))(
              spark.conf.set("spark.sql.analyzer.maxIterations", _))
          }
          r
        }
      (n, nPlan, nExec, nTok, nSubExec, fold)
    }
    println("merges\tnative_plan_s\tnative_exec_full_s\tnative_exec_sub_s" +
      "\tfold_plan_sub_s\tfold_exec_sub_s\ttokens_full")
    rows.foreach { case (n, p, x, t, sx, f) =>
      val (fp, fx) = f.map { case (a, b) => (f"$a%.2f", f"$b%.2f") }
        .getOrElse(("walled", "walled"))
      println(f"$n\t$p%.3f\t$x%.2f\t$sx%.3f\t$fp\t$fx\t$t")
    }
    spark.stop()
  }
}
