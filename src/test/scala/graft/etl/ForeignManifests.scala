package graft.etl

import org.apache.hadoop.fs.{FileSystem, Path}

/** Manifests in forms ManifestLake never publishes — a plain-text
  * `v<N>.list`, or one without its `#schema` header — written as raw
  * files. `Manifest.schema` is not optional, so no publish can produce
  * them; specs that pin the loud refusal write the bytes directly.
  */
object ForeignManifests {

  private def gzPath(root: Path, v: Long): Path = new Path(root, f"_manifest/v$v%06d.list.gz")

  /** The lines of version `v`'s published (gzipped) manifest. */
  def lines(fs: FileSystem, root: Path, v: Long): Seq[String] = {
    val in = new java.util.zip.GZIPInputStream(fs.open(gzPath(root, v)))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }

  /** Version `v`'s file lines, without any `#` directive. */
  def dataLines(fs: FileSystem, root: Path, v: Long): Seq[String] =
    lines(fs, root, v).filterNot(_.startsWith("#"))

  /** Write `body` as version `v`'s manifest — gzipped `v<N>.list.gz`,
    * or plain `v<N>.list` — overwriting any file of that name.
    */
  def write(fs: FileSystem, root: Path, v: Long, body: Seq[String], gzip: Boolean): Unit = {
    val raw = fs.create(if (gzip) gzPath(root, v) else new Path(root, f"_manifest/v$v%06d.list"), true)
    val out = if (gzip) new java.util.zip.GZIPOutputStream(raw) else raw
    try out.write(body.map(_ + "\n").mkString.getBytes("UTF-8"))
    finally out.close()
  }

  /** Replace version `v`'s gzipped manifest by a plain `v<N>.list`
    * holding `body`.
    */
  def replaceWithPlain(fs: FileSystem, root: Path, v: Long, body: Seq[String]): Unit = {
    fs.delete(gzPath(root, v), false)
    write(fs, root, v, body, gzip = false)
  }
}
