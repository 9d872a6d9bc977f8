package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.monotonically_increasing_id

/** Checks of the benchmark itself: the generator is byte-identical for
  * a fixed seed, the gate accepts a correct merge, and the gate rejects
  * a merged output with one row dropped. */
object SelfTest {
  private val small = MergeFixtures.Shape(lineitemFiles = 6, lineitemRows = 3000, ordersFiles = 8,
    ordersRows = 800)

  def run(spark: SparkSession, a: Args): Int = {
    val root = new File(a.work, "selftest")
    IO.deleteTree(root)
    val results = Seq(
      "generator is byte-identical for a fixed seed" -> sameBytes(spark, root),
      "gate accepts a correct merge, rejects one dropped row" -> gateRejectsDroppedRow(spark, root))
    IO.deleteTree(root)
    results.foreach { case (n, ok) => println(s"[selftest] ${if (ok) "PASS" else "FAIL"} $n") }
    if (results.forall(_._2)) 0 else 1
  }

  private def generate(spark: SparkSession, dir: File, seed: Long): MergeFixture = {
    MergeFixtures.generate(spark, small, seed, dir)
    MergeFixtures.read(new File(dir, "manifest.json"), dir)
  }

  def sameBytes(spark: SparkSession, root: File): Boolean = {
    val (a, b, c) = (new File(root, "a"), new File(root, "b"), new File(root, "c"))
    generate(spark, a, 7); generate(spark, b, 7); generate(spark, c, 8)
    def tree(d: File) = IO.listFiles(d).map(f => d.toPath.relativize(f.toPath).toString -> f)
    def same(x: File, y: File) = {
      val (tx, ty) = (tree(x), tree(y))
      tx.map(_._1) == ty.map(_._1) &&
        tx.zip(ty).forall { case ((_, f), (_, g)) => java.util.Arrays.equals(Files.readAllBytes(f.toPath),
          Files.readAllBytes(g.toPath)) }
    }
    val ok = same(a, b) && !same(a, c)
    if (!ok) System.err.println(s"[selftest] seed 7 twice same=${same(a, b)}, seeds 7/8 same=${same(a, c)}")
    ok
  }

  def gateRejectsDroppedRow(spark: SparkSession, root: File): Boolean = {
    val fx  = generate(spark, new File(root, "gate"), 11)
    val out = new File(root, "gate-out")
    out.mkdirs()
    val p = MergeWorkload.pass(spark, fx, out, None)
    val clean = Gate.checkMerge(spark, fx, p.outcomes, out)
    // drop one row of the first merged output, in place
    val target = new File(out, "merged").listFiles().filter(_.getName.endsWith(".parquet")).minBy(_.getName)
    val copy   = new File(root, "one-row-less.parquet")
    Gen.writeSingle(spark.read.parquet(target.getPath).coalesce(1)
      .withColumn("__i", monotonically_increasing_id()).filter("__i > 0").drop("__i"), copy)
    Files.move(copy.toPath, target.toPath, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    new File(target.getParentFile, s".${target.getName}.crc").delete()
    val corrupted = Gate.checkMerge(spark, fx, p.outcomes, out)
    clean.foreach(c => System.err.println(s"[selftest] clean merge flagged: $c"))
    corrupted.foreach(c => System.err.println(s"[selftest] corrupted merge flagged: $c"))
    clean.isEmpty && corrupted.nonEmpty
  }
}
