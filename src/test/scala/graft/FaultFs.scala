package graft

import java.io.{FilterOutputStream, IOException, OutputStream}
import java.net.URI
import java.nio.file.{Files, StandardOpenOption}

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, Path}
import org.apache.hadoop.fs.permission.FsPermission

/** A fault-injecting local file system for crash specs, bound to the
  * `fault:` scheme ([[install]]). It is [[LocalFsBinding]]'s raw layer
  * with every mutation recorded as an (op, path) [[Mutation]]: a file
  * create, an output stream's close, a directory create, a rename, a
  * no-clobber rename, a delete, a set-permission and a set-times. A
  * mutation made inside another (the parent mkdir and chmod of a
  * create) is part of it. Paths under `fault:` are plain local paths.
  *
  * Two one-shot controls drive a writer into a crash state:
  *  - `dieAt(k)`: crash point `k` and every later mutation throw
  *    [[Crash]] before they act, so no `finally` block can repair the
  *    disk, as after a killed process. A close that dies leaves its
  *    file empty: a torn control file is a reachable state.
  *  - `before(op, path predicate)(action)`: runs `action`, with
  *    triggering off, just before the first matching mutation.
  *
  * A crash point is one mutation, except that a run of consecutive
  * mutations all under a write job's `_temporary/` dir (its task files
  * and task commits, which readers and writers ignore) is one point:
  * parallel tasks interleave them differently on every run. The job
  * commit's renames out of `_temporary/` are points of their own.
  *
  * Unsynced data is not modelled: a mutation that returned is durable.
  * The controls and the log belong to a [[scope]], one local dir tree,
  * and are shared by every `FileSystem` and `FileContext` instance of
  * the scheme; crash runs on separate trees can run side by side. A
  * mutation outside every scope acts unrecorded. */
object FaultFs {

  val Scheme = "fault"
  private val Root = URI.create(s"$Scheme:///")

  /** Binds `fault:` in `conf` for both Hadoop APIs. */
  def install(conf: Configuration): Unit = {
    conf.set(s"fs.$Scheme.impl", classOf[FileSystem].getName)
    conf.set(s"fs.AbstractFileSystem.$Scheme.impl", classOf[AbstractFs].getName)
  }

  /** The `fault:` spelling of a local path. */
  def uri(localPath: String): String = s"$Scheme:$localPath"

  final case class Mutation(op: String, path: String, dst: Option[String] = None) {
    override def toString: String = s"$op $path${dst.fold("")(" -> " + _)}"
  }

  final class Crash(val at: Mutation) extends IOException(s"FaultFs: crashed at $at")

  private def temporary(p: String): Boolean =
    p.contains("/_temporary/") || p.endsWith("/_temporary")

  /** The controls and log of the mutations under a [[scope]]'s tree. */
  class Control {
    private val log = ArrayBuffer.empty[(Int, Mutation)]
    private var points = 0
    private var lastTemporary = false
    private var dieAtPoint = Int.MaxValue
    private var crashedAt: Option[Mutation] = None
    private var hooks = List.empty[(String, String => Boolean, () => Unit)]
    @volatile private var triggering = true

    /** Forgets the log and every control. */
    def reset(): Unit = synchronized {
      log.clear(); points = 0; lastTemporary = false
      dieAtPoint = Int.MaxValue; crashedAt = None; hooks = Nil; triggering = true
    }

    /** Crash point `k` (1-based) and every later mutation throw. */
    def dieAt(k: Int): Unit = synchronized { dieAtPoint = k }

    def before(op: String, path: String => Boolean)(action: => Unit): Unit =
      synchronized { hooks = hooks :+ ((op, path, () => action)) }

    /** The mutations since [[reset]], each with its crash point. */
    def mutations: Seq[(Int, Mutation)] = synchronized(log.toList)

    def crashPoints: Int = synchronized(points)

    /** The mutation that crashed first, if any did. */
    def crashed: Option[Mutation] = synchronized(crashedAt)

    /** Records `m` and throws if it is at or past the crash point; runs
      * a matching [[before]] hook first. */
    private[FaultFs] def enter(m: Mutation): Unit = if (triggering) {
      val hook = synchronized {
        hooks.find { case (op, p, _) => op == m.op && p(m.path) }
          .map { h => hooks = hooks.filterNot(_ eq h); h._3 }
      }
      hook.foreach { action =>
        triggering = false
        try action() finally triggering = true
      }
      synchronized {
        val tmp = temporary(m.path) && m.dst.forall(temporary)
        if (!(tmp && lastTemporary)) points += 1
        lastTemporary = tmp
        log += points -> m
        if (points >= dieAtPoint) {
          if (crashedAt.isEmpty) crashedAt = Some(m)
          throw new Crash(m)
        }
      }
    }
  }

  @volatile private var scopes = Map.empty[String, Control]

  /** A fresh control for the mutations under local dir `tree`, so
    * crash runs on disjoint trees can proceed side by side; it replaces
    * the tree's previous control. */
  def scope(tree: String): Control = synchronized {
    val c = new Control
    scopes += tree.stripSuffix("/") -> c
    c
  }

  def unscope(tree: String): Unit = synchronized { scopes -= tree.stripSuffix("/") }

  private def controlOf(m: Mutation): Option[Control] = scopes.collectFirst {
    case (t, c) if m.path == t || m.path.startsWith(t + "/") => c
  }

  private val depth = new ThreadLocal[Int] { override def initialValue = 0 }

  private def mutate[T](m: => Mutation)(body: => T): T =
    if (depth.get > 0) body
    else {
      val mutation = m
      controlOf(mutation).foreach(_.enter(mutation))
      depth.set(1)
      try body finally depth.set(0)
    }

  private def str(p: Path): String = p.toUri.getPath

  /** The raw layer: [[LocalFsBinding.RawFileSystem]] with every
    * mutation passing through [[enter]]. */
  class RawFileSystem extends LocalFsBinding.RawFileSystem {
    override def getUri: URI = Root
    override def getScheme: String = Scheme

    override protected def createOutputStreamWithMode(f: Path, append: Boolean,
        permission: FsPermission): OutputStream =
      mutate(Mutation("create", str(f))) {
        new Closing(f, super.createOutputStreamWithMode(f, append, permission))
      }

    // the stock mkdirs calls these on dirs that exist too
    override protected def mkOneDir(dir: java.io.File): Boolean =
      if (dir.exists) super.mkOneDir(dir)
      else mutate(Mutation("mkdirs", dir.getPath))(super.mkOneDir(dir))

    override protected def mkOneDirWithMode(p: Path, dir: java.io.File,
        permission: FsPermission): Boolean =
      if (dir.exists) super.mkOneDirWithMode(p, dir, permission)
      else mutate(Mutation("mkdirs", dir.getPath))(super.mkOneDirWithMode(p, dir, permission))

    override def rename(src: Path, dst: Path): Boolean =
      mutate(Mutation("rename", str(src), Some(str(dst))))(super.rename(src, dst))

    override def renameNoClobber(src: Path, dst: Path): Unit =
      mutate(Mutation("renameNoClobber", str(src), Some(str(dst))))(
        super.renameNoClobber(src, dst))

    override def delete(p: Path, recursive: Boolean): Boolean =
      if (!pathToFile(p).exists) super.delete(p, recursive)
      else mutate(Mutation("delete", str(p)))(super.delete(p, recursive))

    override def setPermission(p: Path, permission: FsPermission): Unit =
      mutate(Mutation("setPermission", str(p)))(super.setPermission(p, permission))

    override def setTimes(p: Path, mtime: Long, atime: Long): Unit =
      mutate(Mutation("setTimes", str(p)))(super.setTimes(p, mtime, atime))

    /** An output stream whose close is a mutation; a close that dies
      * empties the file. */
    private final class Closing(f: Path, out: OutputStream) extends FilterOutputStream(out) {
      private var closed = false
      override def write(b: Array[Byte], off: Int, len: Int): Unit = out.write(b, off, len)
      override def close(): Unit = if (!closed) {
        closed = true
        try mutate(Mutation("close", str(f)))(out.close())
        catch {
          case c: Crash =>
            out.close()
            Files.newByteChannel(pathToFile(f).toPath, StandardOpenOption.WRITE)
              .truncate(0).close()
            throw c
        }
      }
    }
  }

  /** `fs.fault.impl`: [[LocalFsBinding.FileSystem]] over the fault raw
    * layer. */
  final class FileSystem extends LocalFsBinding.FileSystem(new RawFileSystem) {
    override def getScheme: String = Scheme
  }

  /** `fs.AbstractFileSystem.fault.impl`: the `FileContext` binding. */
  final class AbstractFs(uri: URI, conf: Configuration)
      extends ChecksumFs(new LocalFsBinding.RawAbstractFs(uri, conf, new RawFileSystem, Scheme))
}
