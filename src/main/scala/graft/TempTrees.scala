package graft

/** Shared JSON string escaping for the driver-contract mains (Verify's
  * oracle dump and Bench's failure map read the same json.load). */
object JsonText {
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Shared JVM-exit cleanup for temp trees Spark writes into:
  * `File.deleteOnExit` can't remove non-empty directories (and the part
  * files inside are written by Spark, not us), so a shutdown hook walks
  * the tree depth-first. */
object TempTrees {
  /** RAM-backed scratch dir when the box has one. Landings, re-landed
    * table copies and streaming staging are the LOCAL stand-ins for
    * cluster block storage — scratch, not durable data — so they
    * belong on tmpfs (`/dev/shm`) where the warm line pays memory
    * bandwidth instead of virtio disk I/O (measured: the same landing
    * build is ~3× slower on this container's system disk under I/O
    * contention, which is pure noise in the bench record). Falls back
    * to `java.io.tmpdir` when no writable tmpfs exists. The tree is
    * removed at JVM exit. */
  def scratch(prefix: String): java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val base =
      if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm)) shm
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val dir = java.nio.file.Files.createTempDirectory(base, prefix)
    deleteOnExit(dir)
    dir
  }

  private def deleteOnExit(root: java.nio.file.Path): Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import java.nio.file.{Files, Path}
      if (Files.exists(root)) {
        val stream = Files.walk(root)
        try stream.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(p => { Files.deleteIfExists(p); () })
        finally stream.close()
      }
    }))
}
