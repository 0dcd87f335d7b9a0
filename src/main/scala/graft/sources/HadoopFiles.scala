package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** The one Hadoop handle every Arrow data-plane file operation goes
  * through (staged DoGet opens, IPC file writes, the DSv2 source's
  * listing, reads and commits). A fresh `Configuration` finds and
  * re-parses `core-default.xml`/`core-site.xml` on its first read —
  * milliseconds per file open on the egress hot path — while
  * `FileSystem.CACHE` hands back the same cached file system whatever
  * conf is passed (its key is scheme, authority and user, not the
  * conf). So the defaults are parsed once per driver or executor JVM,
  * into a conf that is never mutated.
  *
  * Files stay on Hadoop's checksummed `LocalFileSystem`: every write
  * still leaves its `.crc` and every read still verifies it. */
object HadoopFiles {

  /** The same defaults `new Configuration()` gives, built once. */
  private lazy val conf: Configuration = new Configuration()

  /** The (cached) file system serving `p`. */
  def fs(p: Path): FileSystem = FileSystem.get(p.toUri, conf)
}
