package graft.ops

import graft.SparkEntry
import graft.core.Session

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** r12 stage-level profiler — TEST-ONLY scratch tooling, deliberately
  * under src/test so it can never break the library build (the r11
  * lesson). Run:
  *   sbt 'Test/runMain graft.ops.ProbeR12 [section ...]'
  * Times sub-stages of the hot shared kernels at sf0.1 with the noop
  * sink (guide §1.4), min-of-3 after one warm-up, bench-like session.
  */
object ProbeR12 {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(Session.withJitHeadroom(Session.cpus))
    import spark.implicits._

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def time(name: String)(mk: => Unit): Unit = {
      mk // warm-up
      val ts = Seq.fill(3) {
        val t0 = System.nanoTime(); mk; (System.nanoTime() - t0) / 1e9
      }
      println(f"[probe] $name%-42s min=${ts.min}%.3f  (${ts.map(t => f"$t%.3f").mkString(" ")})")
    }

    val sections = if (args.nonEmpty) args.toSet else Set("txidx", "ppjoin")

    if (sections("txidx")) {
      println("== text-index append decomposition ==")
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text")
      val tokenized = docs
        .select(col("doc_id"),
          filter(split(col("text"), " "), x => x =!= "").as("toks"))
        .filter(size(col("toks")) > 0)
      time("tokenize only")(noop(tokenized))
      val hashed = tokenized
        .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
          explode(col("toks")).as("term"))
        .select(col("doc_id"), col("dl"),
          graft.functions.GraftFunctions.md5_low60(col("term")).as("th"))
      time("tokenize+explode+md5hash")(noop(hashed))
      time("postingsOf (adds groupBy tf)")(noop(TextIndex.postingsOf(docs)))
      val outDir = java.nio.file.Files.createTempDirectory("probe_txidx_").toString
      time("full append (adds pqt write)") {
        TextIndex.postingsOf(docs).write.mode("overwrite")
          .partitionBy("tp").parquet(s"$outDir/postings/batch=0")
      }
    }

    if (sections("ppjoin")) {
      println("== exactJaccardPairs decomposition (dd06 corpus) ==")
      val base = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text")
      val u = base.unionByName(base.select(
        (col("doc_id") + lit(100000L)).as("doc_id"), col("text")))
      val sets = u.select(col("doc_id"),
          graft.functions.GraftFunctions.word_shingles(col("text"), 3).as("shs"))
        .filter(size(col("shs")) > 0)
      val hashed = sets.select(col("doc_id"),
        size(col("shs")).cast("long").as("n"),
        sort_array(transform(col("shs"), x => xxhash64(x))).as("hs"))
      time("shingle+sort+xxhash (hashed)")(noop(hashed))
      // pin like the real kernel so downstream timings reflect reuse
      def pinned() = Pin.once(hashed)
      val post = pinned().select(col("doc_id"), col("n"), explode(col("hs")).as("sh"))
      val dfreq = post.groupBy("sh").agg(count(lit(1)).as("df"))
      time("postings+dfreq groupBy")(noop(dfreq))
      val wDoc = Window.partitionBy("doc_id").orderBy(col("df"), col("sh"))
      val prefix = post
        .join(dfreq.filter(col("df") >= 2), "sh")
        .withColumn("rk", row_number().over(wDoc))
        .withColumn("m", count(lit(1)).over(Window.partitionBy("doc_id")))
        .filter(col("rk") + (col("n") - col("m")) <=
          col("n") - expr("(4 * n + 4) DIV 5") + 1)
      time("prefix (join+window)")(noop(prefix))
      val cand = prefix.groupBy("sh")
        .agg(sort_array(collect_set(struct(col("doc_id"), col("n")))).as("ids"))
        .select(graft.functions.GraftFunctions.pair_sized(col("ids")))
        .where(lit(5) * least(col("na"), col("nb")) >=
          lit(4) * greatest(col("na"), col("nb")))
        .select("a", "b").distinct()
      time("candidates (groupBy+pairs)")(noop(cand))
      time("full exactJaccardPairs") {
        noop(DedupOps.exactJaccardPairs(u))
      }
    }

    if (sections("pp06")) {
      println("== pp06 decomposition ==")
      val d = sfDir
      val all = spark.read.parquet(s"$d/documents.parquet")
        .select("doc_id", "text", "n_chars")
      val takedown = all.filter(col("doc_id") % 13 === 0)
        .select("doc_id", "text")
      val survivors = all.filter(col("doc_id") % 13 =!= 0)
      val batch = all.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + lit(100000L)).as("doc_id"),
          col("text"), col("n_chars"))
      time("delete verb (idx delete+write)") {
        DedupOps.writeLshIndexRows(
          DedupOps.lshIndexDelete(
            spark.table(DedupOps.baseLshIndex(spark, d)),
            DedupOps.lshBandIndex(takedown)),
          "pp06_probe_idx", graft.core.Scratch.dir("probe_pp06_") + "/ix")
      }
      val pairs = DedupOps.lshIndexProbe(
        batch.select("doc_id", "text"),
        spark.table("pp06_probe_idx"),
        survivors.select("doc_id", "text")
          .unionByName(batch.select("doc_id", "text")))
      time("probe (batch vs pruned index)")(noop(pairs))
      val admitted = batch.join(
        pairs.select(col("b").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      def corpus() = Pin.once(survivors.unionByName(admitted))
      time("corpus (probe+admit, pinned)")(noop(corpus()))
      val c = corpus()
      time("edges (exactJaccardPairs v2)") {
        noop(DedupOps.exactJaccardPairs(c.select("doc_id", "text")).select("a", "b"))
      }
      val edges = DedupOps.exactJaccardPairs(c.select("doc_id", "text"))
        .select("a", "b").localCheckpoint()
      time("cc (over checkpointed edges)") {
        noop(DedupOps.connectedComponents(c.select(col("doc_id").as("id")), edges))
      }
      time("FULL pp06") {
        noop(SparkEntry.queries("pp06_incremental_corpus")(spark, d))
      }
    }

    if (sections("payload")) {
      println("== payload window/signature decomposition (st21 corpus) ==")
      val assets = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      // current shape: lower(hex(payload)) + transform(sequence)+substr
      // + array_distinct (all interpreted HOFs)
      val hx = assets.filter(length(col("payload")) > 0)
        .select(col("doc_id"), lower(hex(col("payload"))).as("hx"),
          length(col("payload")).cast("long").as("n"))
      time("hex only")(noop(hx))
      val winSets = hx.select(col("doc_id"),
        array_distinct(transform(sequence(lit(0L), expr("(n + 3) DIV 4 - 1")),
          i => col("hx").substr((i * lit(8L) + 1).cast("int"), lit(16))))
          .as("shs"))
      time("window sets (HOF)")(noop(winSets))
      time("+ md5_minhash_sig")(noop(winSets.select(col("doc_id"),
        graft.functions.GraftFunctions.md5_minhash_sig(col("shs"), 64).as("mh"))))
      time("+ sorted xxhash64 set (HOF)")(noop(winSets.select(col("doc_id"),
        sort_array(transform(col("shs"), x => xxhash64(x))).as("hshs"))))
      // native kernels (r12): one byte pass / one codegen'd loop
      val winNative = assets.filter(length(col("payload")) > 0)
        .select(col("doc_id"),
          graft.functions.GraftFunctions.payload_windows(col("payload")).as("shs"))
      time("window sets (native)")(noop(winNative))
      time("+ sorted xxhash64 set (native)")(noop(winNative.select(col("doc_id"),
        graft.functions.GraftFunctions.sorted_xxhash64(col("shs")).as("hshs"))))
      time("full payloadLshIndex")(noop(MultimodalOps.payloadLshIndex(assets)))
    }

    if (sections("txplan")) {
      // dump the append verb's write DAG (the plan the postingsOf
      // change alters) for plans/r12
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text")
      println("== postingsOf plan ==")
      println(TextIndex.postingsOf(docs).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode))
    }

    if (sections("metrics")) {
      println("== per-operator metrics: exactJaccardPairs ==")
      val base = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text")
      val u = base.unionByName(base.select(
        (col("doc_id") + lit(100000L)).as("doc_id"), col("text")))
      val df = DedupOps.exactJaccardPairs(u)
      noop(df); noop(df)
      def walk(p: org.apache.spark.sql.execution.SparkPlan, depth: Int): Unit = {
        val m = p.metrics
        val interesting = Seq("numOutputRows", "shuffleBytesWritten",
          "dataSize", "sortTime", "aggTime", "shuffleWriteTime",
          "fetchWaitTime", "time in aggregation build", "spillSize")
        val ms = interesting.flatMap(k => m.get(k).map(v => s"$k=${v.value}"))
        println("  " * depth + p.nodeName + " " + ms.mkString(" "))
        val kids = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            Seq(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            Seq(q.plan)
          case r: org.apache.spark.sql.execution.ReusedSubqueryExec => Seq(r.child)
          case _ => p.children
        }
        kids.foreach(walk(_, depth + 1))
      }
      walk(df.queryExecution.executedPlan, 0)
    }

    if (sections("cc")) {
      println("== connectedComponents (dd05 shape) ==")
      val base = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text")
      val u = base.unionByName(base.select(
        (col("doc_id") + lit(100000L)).as("doc_id"), col("text")))
      val edges = DedupOps.exactJaccardPairs(u).select("a", "b")
        .localCheckpoint()
      val nodes = u.select(col("doc_id").as("id")).localCheckpoint()
      time("connectedComponents only") {
        noop(DedupOps.connectedComponents(nodes, edges))
      }
    }

    spark.stop()
  }
}
