package graft.queries

import org.apache.spark.sql.SparkSession

/** A registry build memoized per (session, input dir, name): `build`
  * writes its output under a fresh temp dir, once, and every later call
  * gets that dir back. A registry function may run many times in one
  * session (bench reps, PlanSpec sweeps) while its expensive part — a
  * bulk warehouse, a BPE induction, a drained stream — is the same each
  * time. The map holds paths, not frames, so nothing a cache clear or an
  * unpersist drops is lost; the dirs are deleted when the JVM exits.
  */
private[graft] object DirMemo {
  private val dirs = scala.collection.concurrent.TrieMap[(String, String, String), String]()

  def apply(s: SparkSession, dir: String, name: String)(build: String => Unit): String =
    dirs.getOrElseUpdate((s.sparkContext.applicationId, dir, name), {
      val base = java.nio.file.Files.createTempDirectory(s"graft_$name").toString
      sys.addShutdownHook(
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base)))
      build(base)
      base
    })
}
