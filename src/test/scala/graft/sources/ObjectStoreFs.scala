package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable

import java.net.URI

/** Bucket-addressed Hadoop `FileSystem` under the `graftobj://` scheme,
  * backed by local disk — the object-store smoke double for the S3A
  * deployment profile ([[graft.GraftSession.s3aConf]]).
  *
  * Why this exists: the flight pipeline's whole IO surface
  * ([[graft.flight.FlightIo]] — timestamped snapshot writes, newest-
  * snapshot listing, `_SUCCESS` probes, bucket bootstrap) is written
  * against the Hadoop FileSystem API precisely so the same code serves
  * `file://` locally and `s3a://` on a cluster. The build carries
  * no hadoop-aws/aws-sdk jars, so `S3AFileSystem` cannot even
  * classload in tests — instead this
  * filesystem plugs into the SAME seam S3A does (`fs.<scheme>.impl` +
  * `FileSystem.get` caching per (scheme, authority) — one instance per
  * bucket, exactly how S3A binds buckets), which lets
  * ObjectStoreFsSpec drive every FlightIo operator through a
  * non-`file:` scheme end-to-end: any `java.io`/local-path assumption
  * hiding in the pipeline fails loudly here, the way it would on S3.
  *
  * Wiring (what a real S3A profile would set, minus credentials):
  * {{{
  *   spark.hadoop.fs.graftobj.impl = graft.sources.ObjectStoreFs
  *   spark.hadoop.fs.graftobj.root = /some/local/dir   // the "region"
  * }}}
  * after which `graftobj://bronze/year=…/flights…` addresses bucket
  * `bronze` under that root.
  *
  * Semantics note: backed by a real directory tree, so rename is
  * atomic-ish and directories exist — closer to a consistent store
  * (S3 is list-after-write consistent since 2020) than to legacy S3.
  * The magic-committer question S3A answers (no efficient rename) is
  * out of scope: this double validates the engine's IO layering, not
  * the store's commit protocol.
  */
final class ObjectStoreFs extends FileSystem {

  private var fsUri: URI = _
  private var bucket: String = _
  private var root: Path = _ // file:-scheme base for this bucket
  private var local: RawLocalFileSystem = _
  private var wd: Path = _

  override def getScheme: String = "graftobj"

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    setConf(conf)
    fsUri = URI.create(s"${name.getScheme}://${name.getAuthority}")
    bucket = name.getAuthority
    require(bucket != null && bucket.nonEmpty,
      s"graftobj paths are bucket-addressed: graftobj://<bucket>/<key>, got $name")
    val rootDir = conf.get("fs.graftobj.root")
    require(rootDir != null, "set fs.graftobj.root to the backing directory")
    root = new Path(s"file:$rootDir/$bucket")
    local = new RawLocalFileSystem()
    local.initialize(URI.create("file:///"), conf)
    wd = new Path(fsUri + "/")
  }

  override def getUri: URI = fsUri

  /** graftobj://bucket/key -> file:<root>/<bucket>/key. Key comes from
    * the URI path STRING: `Path.getPathWithoutSchemeAndAuthority`
    * passes a bucket-root path (`graftobj://bucket`, empty URI path)
    * through unchanged, which would leak the foreign scheme into the
    * backing filesystem.
    */
  private def toLocal(p: Path): Path = {
    val key = makeQualified(p).toUri.getPath.stripPrefix("/")
    if (key.isEmpty) root else new Path(root, key)
  }

  /** file:<root>/<bucket>/key -> graftobj://bucket/key */
  private def fromLocal(p: Path): Path = {
    val rootStr = Path.getPathWithoutSchemeAndAuthority(root).toString
    val full = Path.getPathWithoutSchemeAndAuthority(p).toString
    // path-segment boundary, not a bare string prefix: root /x/b1 must
    // reject sibling /x/b10/key (which would otherwise yield key "0/key")
    require(full == rootStr || full.startsWith(rootStr + "/"),
      s"$p escapes bucket root $root")
    val key = full.stripPrefix(rootStr).stripPrefix("/")
    new Path(if (key.isEmpty) s"$fsUri/" else s"$fsUri/$key")
  }

  private def rewrap(st: FileStatus): FileStatus =
    new FileStatus(st.getLen, st.isDirectory, st.getReplication,
      st.getBlockSize, st.getModificationTime, st.getAccessTime,
      st.getPermission, st.getOwner, st.getGroup, fromLocal(st.getPath))

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    local.open(toLocal(f), bufferSize)

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    local.create(toLocal(f), permission, overwrite, bufferSize, replication,
      blockSize, progress)

  override def append(f: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream =
    throw new UnsupportedOperationException(
      "graftobj is an object-store double: no append, write a new object")

  override def rename(src: Path, dst: Path): Boolean =
    local.rename(toLocal(src), toLocal(dst))

  override def delete(f: Path, recursive: Boolean): Boolean =
    local.delete(toLocal(f), recursive)

  override def listStatus(f: Path): Array[FileStatus] =
    local.listStatus(toLocal(f)).map(rewrap)

  override def setWorkingDirectory(dir: Path): Unit = { wd = makeQualified(dir) }

  override def getWorkingDirectory: Path = wd

  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    local.mkdirs(toLocal(f), permission)

  override def getFileStatus(f: Path): FileStatus =
    rewrap(local.getFileStatus(toLocal(f)))
}
