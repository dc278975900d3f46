package graft.tools

import graft.dedup.Hashing
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

/** Shared scaffolding for the batch-scale stress tools (r11 review: the
  * timer, perturbation UDF and corpus-dir protocol were copy-pasted
  * between the per-round stress tools (now unified in Stress) — a
  * methodology fix landing in one and not the other would make stress
  * rounds compare numbers produced by subtly different harnesses).
  */
object StressUtil {

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Replica-unique text perturbation: interleaves a per-(doc, replica,
    * position) hash token between words so replicated docs defeat exact
    * and near dedup, except every 50th replica which stays verbatim
    * (planted duplicate clusters).
    */
  val perturb: UserDefinedFunction = udf { (text: String, docId: Long, rep: Int) =>
    if (rep % 50 == 0) text
    else {
      val words = text.split(' ')
      val sb = new StringBuilder(text.length * 2)
      var i = 0
      while (i < words.length) {
        sb.append(words(i)).append(' ')
        if (i % 2 == 1) {
          sb.append('h')
          sb.append(java.lang.Long.toHexString(Hashing.hash64(s"$docId:$rep:$i")))
          sb.append(' ')
        }
        i += 1
      }
      sb.result().trim
    }
  }

  /** The corpus-dir cache protocol: `dir` is valid iff `_READY` exists
    * AND records the same base dir it was built from (r11 review: keying
    * the cache on the multiplier alone silently reused a replica of a
    * DIFFERENT base when SPARK_GRAFT_SF_DIR changed between runs).
    * `build` fills the dir; this wrapper owns delete/mark, including
    * invalidating the dir's boundary-oracle dumps (a rebuilt corpus
    * invalidates any dumps derived from the previous build under the
    * same basename — writeOnce's per-path contract assumes path ⇒
    * content).
    */
  def cachedDir(dir: String, base: String, recipe: String = "")(build: => Unit): String = {
    val ready = java.nio.file.Paths.get(s"$dir/_READY")
    // the key is base dir + build RECIPE (r11 review: a recipe change —
    // e.g. r11c starting to scale the part table alongside lineitem —
    // must invalidate dirs built by the old code, or the "fixed" probe
    // silently measures the stale corpus)
    val key = if (recipe.isEmpty) base else s"$base#$recipe"
    val valid = java.nio.file.Files.exists(ready) &&
      java.nio.file.Files.readString(ready).trim == key
    if (!valid) {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(graft.OracleIo.dir(dir)))
      new java.io.File(dir).mkdirs()
      build
      java.nio.file.Files.writeString(ready, key)
    } else println(s"- corpus ${new java.io.File(dir).getName} cached")
    dir
  }

  def symlinkTables(dir: String, base: String, tables: Seq[String]): Unit =
    tables.foreach { tbl =>
      java.nio.file.Files.createSymbolicLink(
        java.nio.file.Paths.get(s"$dir/$tbl.parquet"),
        java.nio.file.Paths.get(s"$base/$tbl.parquet"))
    }
}
