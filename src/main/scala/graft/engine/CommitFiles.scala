package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.{escapePathName, unescapePathName}
import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8

/** Driver-side commit files under `root` — the one atomic-publish
  * helper behind [[ParquetManifestIO]] and [[ParquetStageIO]]: their
  * commit points, their run/split descriptors, and the listing resume
  * starts from. Everything goes through the Hadoop `FileSystem` of
  * `root` on the driver, so none of it starts a Spark job.
  *
  * A file is published by writing a hidden tmp file beside it and
  * renaming it into place. A crash before the rename leaves only the
  * hidden tmp file, which no reader lists, so the entry stays absent
  * and its unit re-runs; a crash after it leaves the complete entry.
  *
  * A manifest directory holds one `commit-<id>.json` file per committed
  * id (the id escaped like a Hive partition value), readable as JSON
  * lines by any engine; the name has no `=`, so readers that infer Hive
  * partitions from paths add no column.
  */
private[engine] final class CommitFiles(spark: SparkSession, root: String) {
  private val rootPath = new Path(root)
  private lazy val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Atomically publish `body` at `root/name`, replacing any previous
    * version (where the file system's rename does not overwrite, the
    * old file is deleted first; a crash in between leaves it absent,
    * which re-runs the unit, never a torn file).
    */
  def put(name: String, body: String): Unit = {
    val dst = new Path(rootPath, name)
    val tmp = new Path(dst.getParent, s".${dst.getName}.${java.util.UUID.randomUUID}.tmp")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes(UTF_8)) finally out.close()
    if (!fs.rename(tmp, dst)) {
      fs.delete(dst, false)
      if (!fs.rename(tmp, dst))
        throw new java.io.IOException(s"could not publish $dst")
    }
  }

  /** The published content of `root/name`, if any. */
  def get(name: String): Option[String] =
    try {
      val in = fs.open(new Path(rootPath, name))
      try Some(new String(in.readAllBytes(), UTF_8)) finally in.close()
    } catch { case _: FileNotFoundException => None }

  /** Commit `body` as the entry of `id` in manifest directory `dir`. */
  def commit(dir: String, id: String, body: String): Unit =
    put(s"$dir/${entryName(id)}", body)

  /** The committed entry of `id` in `dir`, if any. */
  def entry(dir: String, id: String): Option[String] = get(s"$dir/${entryName(id)}")

  /** Ids committed in manifest directory `dir`: one listing. Hidden
    * files (tmp files, checksums) are skipped; anything else that is not
    * a `commit-<id>.json` file — the Parquet manifests of older versions,
    * flat files or `part=<id>/` directories — is rejected, since mixing
    * layouts would resume wrong.
    */
  def committed(dir: String): Set[String] = {
    val listed =
      try fs.listStatus(new Path(rootPath, dir)).toSeq
      catch { case _: FileNotFoundException => Nil }
    listed.filterNot(st => Seq(".", "_").exists(st.getPath.getName.startsWith))
      .map { st =>
        val n = st.getPath.getName
        require(st.isFile && n.startsWith("commit-") && n.endsWith(".json"),
          s"$root/$dir holds '$n', which this version's manifest layout " +
            "(one commit-<id>.json file per commit) does not write: it comes " +
            "from an older Parquet manifest; re-run into a fresh outDir")
        unescapePathName(n.stripPrefix("commit-").stripSuffix(".json"))
      }.toSet
  }

  private def entryName(id: String): String = s"commit-${escapePathName(id)}.json"
}
