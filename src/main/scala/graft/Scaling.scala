package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.{Discovery, Merge, MergeJobs, QueryScope, Session}
import graft.ops.{DedupOps, TextIndex, VectorOps}

/** Measured scaling EXPONENTS for the headline sub-quadratic claims
  * (r7 verdict task 6): ScaleStressSpec proves the answers stay exact
  * at 10× input; this harness measures how the RUNTIME grows, turning
  * "bucketed, never all-pairs" from plan shape into observed behavior.
  *
  * Method: each kernel runs on nested corpus slices of ~1×/3×/10×
  * (prefix slices of the sf dir's own tables — natural data, no
  * synthetic duplication that would skew bucket occupancy), 1 warm-up
  * + min-of-`reps` per point (the bench's JIT discipline), forced via
  * `queryExecution.toRdd.count()`. The reported exponent is the
  * endpoint log-log slope ln(t_10x/t_1x)/ln(n_10x/n_1x). Fixed
  * per-job overhead (scheduling, the full-file scan under the slice
  * filter) deflates small-corpus exponents toward 0 — conservative
  * for the claim being tested, which is an UPPER bound (< 2, i.e.
  * not all-pairs; ScalingSpec asserts <= 1.7 with noise margin).
  *
  * Kernels and their expected regimes:
  *   - dd02 (MinHash-LSH near-dedup): signature pass O(n) + band-key
  *     equi-join on capped buckets — near-linear.
  *   - dd06 (exact PPJoin): df-ASC prefix-filtered posting join —
  *     super-linear in candidate mass but far below the all-pairs n².
  *   - dd17 (indexed probe, FIXED batch vs growing lake): O(batch +
  *     touched postings) — near-flat in lake size; the index build is
  *     fixture, not measured.
  *   - vs02 (IVF cell probe, fixed 5-probe batch): per-cell scan
  *     grows with cell size at a fixed 8-cell codebook — sub-linear
  *     to linear; the oracle-side assignment is part of the plan.
  *   - tx33 (BM25 index probe, FIXED query vs growing indexed lake):
  *     O(query-term posting mass). On THIS corpus's ~30-word
  *     vocabulary every doc holds most terms, so posting mass is a
  *     constant fraction of the lake and the expected regime is
  *     near-LINEAR — the claim under test is sub-quadratic plus the
  *     constant-factor story (the probe reads 4 long columns of the
  *     query's partitions, never text); at real-corpus vocabularies
  *     query postings are a vanishing lake fraction.
  *   - merge_files (the merge tool's own sequence: scanFolders →
  *     smartBatch → buildJob → runAll with CSV, over n same-named
  *     files): a listing, a stat and a footer read per file, then one
  *     write of every row — linear.
  */
object Scaling {

  /** Copy a persisted index to a fresh path — the UNTIMED setup for
    * measuring verbs that mutate their store in place (vs26's
    * re-version): every invocation runs against a pristine copy, so
    * min-of-reps times identical work. */
  private def copyDir(spark: SparkSession, src: String, dst: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val sp = new org.apache.hadoop.fs.Path(src)
    val dp = new org.apache.hadoop.fs.Path(dst)
    val fs = sp.getFileSystem(conf)
    if (fs.exists(dp)) fs.delete(dp, true)
    org.apache.hadoop.fs.FileUtil.copy(fs, sp, fs, dp, false, true, conf)
  }

  /** (kernel name, points as (n, min seconds), endpoint exponent). */
  def measure(spark: SparkSession, sfDir: String,
      reps: Int = 3): Seq[(String, Seq[(Long, Double)], Double)] = {
    val docs = Tables(spark, sfDir, "documents").select("doc_id", "text")
    val emb = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val nDocs = docs.agg(max("doc_id")).head().getLong(0) + 1
    val nVecs = emb.agg(max("vec_id")).head().getLong(0) + 1
    val docSizes = Seq(nDocs / 10, 3 * nDocs / 10, nDocs)
    val vecSizes = Seq(nVecs / 10, 3 * nVecs / 10, nVecs)

    def dslice(n: Long) = docs.filter(col("doc_id") < n)
    def withCopy(n: Long) = dslice(n).unionByName(dslice(n)
      .select((col("doc_id") + lit(100000L)).as("doc_id"), col("text")))
    def vslice(n: Long) = emb.filter(col("vec_id") < n)

    // dd17's fixtures: one persisted index per lake size (input state,
    // not the verb — same rationale as the registered query's cache),
    // and a FIXED probe batch so only the lake grows.
    val idxTable = docSizes.map { n =>
      val t = s"scaling_lsh_idx_$n"
      DedupOps.writePortableLshIndex(dslice(n), t,
        graft.core.Scratch.dir(s"graft_scaling_idx_${n}_") + "/index")
      n -> t
    }.toMap
    val batch = docs
      .filter(col("doc_id") % 10 === 0 && col("doc_id") < docSizes.head)
      .select((col("doc_id") + lit(100000L)).as("doc_id"), col("text"))

    // tx33's fixtures: one persisted BM25 index per lake size, with a
    // FIXED query so only the posting store grows.
    val txtIdxDir = docSizes.map { n =>
      val dirN = graft.core.Scratch.dir(s"graft_scaling_txtidx_${n}_") + "/index"
      TextIndex.buildTextIndex(dslice(n), dirN)
      n -> dirN
    }.toMap
    val fixedQuery = TextIndex.queryTerms(docs, 42)

    // ---- write-verb fixtures (r8 verdict task 6: the verbs' O(batch)
    // / O(touched) claims were spec'd but unmeasured) ----

    // tx34: dedicated per-size text indexes (append MUTATES its store,
    // so tx33's probe fixtures stay pristine); the appended batch is
    // FIXED, so only the store underneath grows. A replayed batch
    // overwrites its own batch= subdirs — every rep does identical work.
    val txtApIdx = docSizes.map { n =>
      val dirN = graft.core.Scratch.dir(s"graft_scaling_txtap_${n}_") + "/index"
      TextIndex.buildTextIndex(dslice(n), dirN)
      n -> dirN
    }.toMap

    // tx36: one FIXED tombstone sidecar (takedown-batch-sized; the
    // docs exist in every slice) — the vacuum folds it into each
    // per-size store, reading/rewriting O(index). Vacuum writes to a
    // fresh scratch snapshot, inputs untouched: reps are identical.
    val fixedTombs = graft.core.Scratch.dir("graft_scaling_tomb_") + "/t"
    TextIndex.deleteFromTextIndex(
      dslice(docSizes.head).filter(col("doc_id") % 10 === 3), fixedTombs)

    // dd20: fixed removed-docs band keys (content-addressed); the
    // delete is a pure DataFrame transform over the per-size index
    // tables — forcing it does the posting-list subtraction without
    // persisting, so reps are identical.
    val removedKeys = DedupOps.lshBandIndex(
      dslice(docSizes.head).filter(col("doc_id") % 10 === 3))

    // vs26: per-size pristine IVF stores under one frozen codebook;
    // re-version MUTATES in place (tombstone sidecar + vacuum +
    // append), so each invocation runs against an UNTIMED fresh copy.
    val centroids = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val ivfPristine = vecSizes.map { n =>
      val dirN = graft.core.Scratch.dir(s"graft_scaling_ivf_${n}_") + "/idx"
      VectorOps.writeIvfIndex(vslice(n), centroids, dirN)
      n -> dirN
    }.toMap
    val oldV = emb.filter(col("vec_id") % 10 === 3 &&
      col("vec_id") < vecSizes.head)
    val newV = oldV.select(col("vec_id"),
      transform(col("v"), x => x + lit(0.1)).as("v"))

    // merge_files: n same-named 600-row lineitem files, three folders
    // deep, one tree per n (copies of one file, so only the file count
    // grows). One batch; each invocation merges it into a fresh dir.
    val fileSizes = Seq(100L, 300L, 1000L)
    val mergeTree = {
      val src = graft.core.Scratch.dir("graft_scaling_mergesrc_") + "/lineitem.parquet"
      Merge.writeSingleFile(Tables(spark, sfDir, "lineitem").limit(600), src)
      fileSizes.map { n =>
        val root = graft.core.Scratch.dir(s"graft_scaling_merge_${n}_")
        (0L until n).foreach { i =>
          val dst = Paths.get(s"$root/d${i % 10}/e${i / 10 % 10}/f$i/lineitem.parquet")
          Files.createDirectories(dst.getParent)
          Files.copy(Paths.get(src), dst)
        }
        n -> root
      }.toMap
    }

    // prep(n) runs UNTIMED before every invocation (fresh copies for
    // in-place verbs; identity for pure reads); the returned thunk is
    // what the clock sees.
    val kernels: Seq[(String, Seq[Long], Long => () => Unit)] = Seq(
      ("dd02_minhash_lsh", docSizes,
        n => () => Runner.force(DedupOps.minHashNearDupsPortable(withCopy(n)))),
      ("dd06_exact_ppjoin", docSizes,
        n => () => Runner.force(DedupOps.exactJaccardPairs(withCopy(n)))),
      ("dd17_index_probe", docSizes,
        n => () => Runner.force(DedupOps.lshIndexProbe(batch, spark.table(idxTable(n)),
          dslice(n).unionByName(batch)))),
      ("tx33_text_probe", docSizes,
        n => () => Runner.force(TextIndex.probeTextIndex(spark, txtIdxDir(n), fixedQuery, 10))),
      ("vs02_ivf_probe", vecSizes, { n =>
        () => {
          val e = vslice(n)
          val cs = e.filter(col("vec_id") < 8)
            .select(col("vec_id").as("cid"), col("v").as("cv"))
          val asg = VectorOps.assignClusters(e, cs)
          val probes = asg.filter(col("vec_id").between(100, 104))
            .select(col("vec_id").as("probe_id"), col("v").as("pv"),
              col("cid").as("pcid"))
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("probe_id").orderBy(col("c").desc, col("neighbor_id"))
          Runner.force(asg.join(broadcast(probes),
              col("cid") === col("pcid") && col("vec_id") =!= col("probe_id"))
            .select(col("probe_id"), col("vec_id").as("neighbor_id"),
              VectorOps.cosine(col("pv"), col("v")).as("c"))
            .withColumn("rnk", row_number().over(w).cast("long"))
            .filter(col("rnk") <= 3))
        }
      }),
      // -- write verbs --
      ("tx34_index_append", docSizes,
        n => () => TextIndex.appendTextIndex(batch, txtApIdx(n), batch = 7L)),
      ("tx36_index_vacuum", docSizes, { n =>
        () => {
          val out = graft.core.Scratch.dir(s"graft_scaling_vac_${n}_") + "/index"
          TextIndex.vacuumTextIndex(spark, txtIdxDir(n), fixedTombs, out)
        }
      }),
      ("dd20_index_delete", docSizes,
        n => () => Runner.force(DedupOps.lshIndexDelete(
          spark.table(idxTable(n)), removedKeys))),
      ("vs26_ivf_reversion", vecSizes, { n =>
        val work = graft.core.Scratch.dir(s"graft_scaling_rev_${n}_") + "/idx"
        copyDir(spark, ivfPristine(n), work) // untimed: pristine copy
        () => VectorOps.reversionIvfIndex(spark, oldV, newV, centroids, work)
      }),
      // tx43: full BPE training (6 merges) on a growing corpus. The
      // expected regime is ONE O(corpus) word-count pass + 6
      // VOCAB-bounded iterations (the vocabulary is size-invariant on
      // these nested slices), so the exponent reads near-flat; a
      // regression that drags corpus-scale work INSIDE the merge loop
      // (training on the corpus instead of the dict) would read ~1
      // with a 6x constant.
      ("tx43_bpe_train", docSizes,
        n => () => { graft.ops.Bpe.train(dslice(n), 6); () }),
      // mm16: byte-window MinHash near-dedup over a growing media
      // lake (payload = encoded text bytes, every 10th asset
      // re-arriving with a trailer edit — the registered query's
      // plant). Same regime as dd02: per-row signatures + band-key
      // equi-join on capped buckets — near-linear, never all-pairs.
      ("mm16_payload_minhash", docSizes, { n =>
        val assets = dslice(n)
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
        val withEdits = assets.unionByName(
          assets.filter(col("doc_id") % 10 === 0)
            .select((col("doc_id") + lit(100000L)).as("doc_id"),
              concat(col("payload"), encode(lit(" v2edit"), "UTF-8")).as("payload")))
        () => Runner.force(graft.ops.MultimodalOps.payloadNearDups(withEdits))
      }),
      // merge_files: the merge tool's own sequence over a growing number
      // of files. Listing, stat-ing and footer reads are per file and the
      // write reads every row, so its expected regime is linear.
      ("merge_files", fileSizes, { n =>
        val out = graft.core.Scratch.dir(s"graft_scaling_mergeout_${n}_")
        () => {
          val files = Discovery.scanFolders(spark, Seq(mergeTree(n)))
          val jobs = Discovery.smartBatch(files)._1.zipWithIndex
            .map { case ((_, fs), i) => MergeJobs.buildJob(spark, fs, i + 1) }
          MergeJobs.runAll(spark, jobs, out, exportCsv = true)._1.foreach(_.left.foreach {
            case (job, e) => throw new IllegalStateException(s"merge_files ${job.name}: $e")
          })
        }
      }))

    kernels.map { case (name, sizes, prep) =>
      val points = sizes.map { n =>
        // one scope per invocation: its pins and scratch dirs are
        // released after the clock stops
        def once(): Double = QueryScope {
          val thunk = prep(n) // untimed setup (fresh copy for mutators)
          val t0 = System.nanoTime()
          thunk()
          (System.nanoTime() - t0) / 1e9
        }
        once() // warm-up: this (name, n) plan's codegen/JIT
        n -> Seq.fill(reps)(once()).min
      }
      val ((n1, t1), (nk, tk)) = (points.head, points.last)
      val exponent = math.log(tk / t1) / math.log(nk.toDouble / n1)
      (name, points, exponent)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outFile = args.lift(1).getOrElse("SCALING.json")
    val spark = Session.local(Session.withJitHeadroom(Session.cpus))
    val m = measure(spark, sfDir)
    val notes = "Endpoint log-log runtime exponents over ~1x/3x/10x " +
      "nested natural-data slices, warmed min-of-3 per point " +
      "(ScalingSpec asserts <= 1.7: sub-quadratic = not all-pairs). " +
      "Fixed per-job overhead deflates exponents at these corpus " +
      "sizes; the assertion is an upper bound, so that bias is " +
      "conservative. dd17 probes a FIXED batch against a growing " +
      "indexed lake; its near-flat exponent is the O(batch) claim. " +
      "Write verbs (r8 task 6): tx34 appends a FIXED batch to a " +
      "growing store (O(batch) claim, asserted <= 0.8); tx36 vacuum, " +
      "dd20 delete and vs26 re-version are O(index)/O(touched cells) " +
      "BY DESIGN, so ~linear is their expected reading (vs26 runs " +
      "against an untimed pristine copy per invocation). tx43 BPE " +
      "training is one O(corpus) word-count pass + 6 vocab-bounded " +
      "merge iterations: near-flat here (the vocabulary is " +
      "size-invariant across the slices); corpus-scale work inside " +
      "the loop would read ~1 with a 6x constant. mm16 is a FULL-LAKE " +
      "op (unlike the fixed-batch probes whose flat rows pin O(batch) " +
      "claims): one single-pass byte-window + signature scan over " +
      "every payload, then band-key equi-join on capped buckets — its " +
      "EXPECTED reading is ~linear in lake bytes, deflated toward ~0.7 " +
      "by the fixed per-invocation floor at the 1x point (the r10 row " +
      "read 0.78 on the pre-single-pass kernel, which double-windowed " +
      "the lake; ScalingSpec pins <= 1.3: linear-by-design with load " +
      "margin, far below all-pairs ~1.9). merge_files times the merge " +
      "tool's own sequence (scanFolders, smartBatch, buildJob, runAll " +
      "with CSV) over n = 100/300/1000 same-named 600-row lineitem " +
      "files three folders deep, merged as one batch: linear by design."
    val json = m.map { case (name, points, exp) =>
      val ps = points.map { case (n, t) =>
        f"""{"n": $n, "sec": $t%.3f}""" }.mkString("[", ", ", "]")
      f"""  "$name": {"points": $ps, "exponent": $exp%.3f}"""
    }.mkString("{\n", ",\n",
      s",\n  \"_notes\": \"$notes\",\n  \"sf_dir\": \"$sfDir\"\n}\n")
    Files.writeString(Paths.get(outFile), json)
    println(s"[scaling] wrote $outFile")
    spark.stop()
  }
}
