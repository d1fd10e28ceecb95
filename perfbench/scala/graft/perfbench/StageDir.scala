package graft.perfbench

import java.io.File
import java.net.URI
import java.nio.file.Path

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, RawLocalFileSystem, Path => HPath}

/** q33, q34, q39 and q56 stage an intermediate result as parquet under the
  * fixed directory `/tmp/graft_oracle_stage`, so their DuckDB oracles can
  * replay the downstream stage. The benchmark runs those queries unchanged
  * but keeps every file it writes inside its work directory: Hadoop's local
  * file system is replaced by one that stores that directory's paths under
  * the work directory. Every other path maps to itself, and listings report
  * the paths the caller asked for. */
object StageDir {
  val Fixed = "/tmp/graft_oracle_stage"
  @volatile private var target: String = Fixed

  /** Redirect the stage directory to `dir`. Call before the first Hadoop
    * file system is created, so the cached `file:` instance is this one. */
  def install(dir: Path): Unit = {
    target = dir.toAbsolutePath.toString
    val impl = classOf[StageRedirectFileSystem].getName
    sys.props("spark.hadoop.fs.file.impl") = impl
    val conf = new Configuration()
    conf.set("fs.file.impl", impl)
    val fs = FileSystem.get(URI.create("file:///"), conf)
    require(fs.isInstanceOf[StageRedirectFileSystem], s"file system is ${fs.getClass}")
  }

  private def swap(p: String, from: String, to: String): String =
    if (p == from || p.startsWith(from + "/")) to + p.substring(from.length) else p

  def toStored(p: String): String = swap(p, Fixed, target)
  def toVisible(p: String): String = swap(p, target, Fixed)

  /** `sql` with the stage paths its oracle reads replaced by where they are stored. */
  def inSql(sql: String): String = sql.replace(Fixed, target)
}

final class StageRedirectRaw extends RawLocalFileSystem {
  override def pathToFile(path: HPath): File =
    new File(StageDir.toStored(super.pathToFile(path).getPath))

  private def visible(s: FileStatus): FileStatus = {
    val p = s.getPath
    val shown = StageDir.toVisible(p.toUri.getPath)
    if (shown != p.toUri.getPath) s.setPath(new HPath(p.toUri.getScheme, null, shown))
    s
  }

  override def getFileStatus(f: HPath): FileStatus = visible(super.getFileStatus(f))
  override def getFileLinkStatus(f: HPath): FileStatus = visible(super.getFileLinkStatus(f))
  override def listStatus(f: HPath): Array[FileStatus] = super.listStatus(f).map(visible)
}

final class StageRedirectFileSystem extends LocalFileSystem(new StageRedirectRaw)
