package graft

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream,
  DataOutputStream, File, FileInputStream, FileOutputStream, IOException}
import org.apache.commons.io.FileUtils

/** The one memo for per-corpus artifacts: an artifact trained once per
  * corpus and shared by several queries (the bigram LM, the DSIR model,
  * the IVF centroids, the brute top-k) goes through a single call,
  * `Memo(kind, dir, table, params*)(codec)(compute)`, which decides in
  * one place:
  *
  *  - the key: (kind, dir, params, fingerprint of `dir`/`table`), so a
  *    regenerated fixture recomputes instead of serving a stale value;
  *  - the in-JVM map: `compute` runs outside the lock (one training job
  *    never blocks a request for another artifact), the first insert of
  *    a key wins, and an insert evicts the entries of the same
  *    (kind, dir) that carry another fingerprint;
  *  - the store: `graft-<kind>-<md5(dir|params|fp)>` under a per-user,
  *    owner-only directory, so a fresh JVM loads instead of retraining;
  *  - the commit: the codec writes a sibling temp path that is renamed
  *    into place, so a crashed write never lands at the final path;
  *  - loading: a read that signals a damaged store (IOException or
  *    IllegalArgumentException) deletes it and recomputes; any other
  *    exception propagates, so a transient failure never destroys a
  *    valid store.
  *
  * Each artifact keeps only its codec and its compute. Stale-fingerprint
  * stores are not deleted: a DataFrame returned earlier may still read
  * one lazily, and each fixture regeneration leaves at most one. */
object Memo {

  /** How an artifact sits on disk: `write` fills a fresh path (a file
    * or a directory), `read` decodes a committed one and throws
    * IOException or IllegalArgumentException when it is damaged. */
  trait Codec[T] {
    def write(v: T, to: File): Unit
    def read(from: File): T
  }

  /** A single-file codec over a data stream that opens with `magic` and
    * must end where `dec` stops reading. Doubles round-trip bit-exactly
    * (writeDouble stores the IEEE bit pattern). */
  def binary[T](magic: Int)(enc: (DataOutputStream, T) => Unit)(
      dec: DataInputStream => T): Codec[T] = new Codec[T] {
    def write(v: T, to: File): Unit = {
      val out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(to)))
      try { out.writeInt(magic); enc(out, v) } finally out.close()
    }
    def read(from: File): T = {
      val in = new DataInputStream(new BufferedInputStream(new FileInputStream(from)))
      try {
        require(in.readInt() == magic, s"memo store $from: bad magic")
        val v = dec(in)
        require(in.read() == -1, s"memo store $from: trailing bytes")
        v
      } finally in.close()
    }
  }

  private final case class Key(kind: String, dir: String, params: Seq[Any], fp: String)
  private val memory = scala.collection.mutable.Map[Key, Any]()
  /** Uniquifies temp paths within the JVM (the pid covers other JVMs). */
  private val tmpSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  def apply[T](kind: String, dir: String, table: String, params: Any*)(
      codec: Codec[T])(compute: => T): T = {
    val fp = Catalog.dirFingerprint(dir, table)
    val key = Key(kind, dir, params.toList, fp)
    memory.synchronized(memory.get(key)) match {
      case Some(v) => v.asInstanceOf[T]
      case None =>
        val store = storeAt(kind, dir, params, fp)
        val v = load(store, codec).getOrElse {
          commit(store, codec, compute)
          codec.read(store)
        }
        memory.synchronized {
          memory.getOrElse(key, {
            memory.filterInPlace { case (k, _) =>
              k.kind != kind || k.dir != dir || k.fp == fp }
            memory(key) = v
            v
          })
        }.asInstanceOf[T]
    }
  }

  /** md5 hex of (dir, params, fingerprint of `dir`/`table`): the name
    * under which a per-corpus output is stored (also the stream sinks'). */
  def digest(dir: String, table: String, params: Any*): String =
    digestOf(dir, params, Catalog.dirFingerprint(dir, table))

  /** The store an artifact resolves to at the current fingerprint. */
  def pathFor(kind: String, dir: String, table: String, params: Any*): File =
    storeAt(kind, dir, params, Catalog.dirFingerprint(dir, table))

  /** Test hook: drop the in-JVM map (stores stay), so the next call
    * takes the cold-JVM path. */
  def dropMemory(): Unit = memory.synchronized(memory.clear())

  private def digestOf(dir: String, params: Seq[Any], fp: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest((dir +: params.map(_.toString) :+ fp).mkString("|").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def storeAt(kind: String, dir: String, params: Seq[Any], fp: String): File =
    new File(storeDir(), s"graft-$kind-${digestOf(dir, params, fp)}")

  private def load[T](f: File, codec: Codec[T]): Option[T] =
    if (!f.exists()) None
    else try Some(codec.read(f)) catch {
      case _ @ (_: IOException | _: IllegalArgumentException) =>
        FileUtils.deleteQuietly(f); None
    }

  /** Write to a sibling temp path, then rename it in. rename is atomic
    * on a local fs: a racer's file replaces an identical one, a racer's
    * directory fails against the committed one and is discarded. */
  private def commit[T](f: File, codec: Codec[T], v: T): Unit = {
    val tmp = new File(f.getParentFile,
      s"${f.getName}.tmp-${ProcessHandle.current().pid()}-${tmpSeq.incrementAndGet()}")
    try {
      codec.write(v, tmp)
      if (!tmp.renameTo(f)) require(f.exists(), s"memo store rename failed: $tmp -> $f")
    } finally { FileUtils.deleteQuietly(tmp); () } // gone after a successful rename
  }

  /** The per-user store root under `java.io.tmpdir`, created on first
    * use with owner-only (0700) permissions and verified to belong to
    * the current user. The stores are trusted inputs (a quantizer loaded
    * from disk silently shapes ANN results), so a world-writable shared
    * directory would let another local user pre-plant or swap a store
    * at its deterministic path; a directory another user pre-created
    * fails the ownership check loudly instead of being trusted. */
  private def storeDir(): File = {
    val user = sys.props.getOrElse("user.name", "anon")
    val d = new File(sys.props("java.io.tmpdir"), s"graft-$user")
    if (!d.exists()) { d.mkdirs(); () }
    require(d.isDirectory, s"store dir $d is not a directory")
    try {
      java.nio.file.Files.setPosixFilePermissions(d.toPath,
        java.nio.file.attribute.PosixFilePermissions.fromString("rwx------"))
      val owner = java.nio.file.Files.getOwner(d.toPath).getName
      require(owner == user, s"store dir $d owned by $owner, expected $user")
    } catch {
      // non-POSIX fs: no permission bits to set; ownership is moot
      case _: UnsupportedOperationException => ()
    }
    d
  }
}
