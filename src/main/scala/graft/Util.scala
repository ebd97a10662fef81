package graft

/** Tiny shared helpers with no Spark dependency. */
object Util {

  /** Collision-resistant 16-hex-char tag for a filesystem path (first
    * 8 bytes of SHA-256). Used wherever a data-dir path is folded into
    * a table/export name: `String.hashCode` is 32-bit, and two distinct
    * data dirs colliding is not hypothetical-harmless — the bucketed-
    * table orphan pre-delete (Layout.joinBucketed) REMOVES the colliding
    * name's directory, which under a 32-bit tag could be another
    * session's live table (VERDICT r6 item 3). 64 bits of a
    * cryptographic digest makes an accidental collision implausible.
    */
  def pathTag(path: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(path.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString

  /** Full SHA-256 hex of a string — the ANN index store folds its
    * multi-line corpus fingerprint into one manifest header line with
    * this (a prefix-truncated digest would be pathTag; identity checks
    * keep all 256 bits). */
  def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  /** Full JSON string escaping (backslash, quote, ALL control chars) —
    * any free text spliced into a machine-parsed single-line JSON
    * record (Bench's error map, Verify's oracle_sql.json and manifest)
    * must pass through here: a raw newline or quote from an exception
    * message would split/break the one line the driver parses. */
  def jsonEscape(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Deletes a directory tree (a no-op if it is absent). Scratch dirs
    * (streaming checkpoints, per-process exports, test fixtures) are
    * deleted on completion or every run leaks them into the temp dir
    * (ADVICE r3). Best-effort by definition: query.stop() returns
    * before the state-store maintenance thread fully halts and can drop
    * a fresh snapshot into state/<op>/<part> between the walk and the
    * directory delete (DirectoryNotEmptyException, seen ~1-in-4 on
    * stream_state_ttl's tmpfs checkpoint) — so retry briefly, then
    * warn and leak rather than fail the caller. */
  def deleteRecursively(root: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    def sweep(): Unit = {
      val walk = Files.walk(root)
      // Files.walk holds directory handles until closed (ADVICE r4) —
      // collect under try/finally, delete after the stream is closed.
      val paths = try walk.iterator().asScala.toSeq finally walk.close()
      paths.reverse.foreach(p => Files.deleteIfExists(p))
    }
    var attempt = 0
    while (Files.exists(root)) {
      attempt += 1
      try sweep()
      catch {
        // (a walk that meets a vanishing entry throws the unchecked kind)
        case _: java.io.IOException | _: java.io.UncheckedIOException
            if attempt < 4 => Thread.sleep(200)
        case e @ (_: java.io.IOException | _: java.io.UncheckedIOException) =>
          System.err.println(
            s"[graft] temp dir cleanup leaked $root after $attempt " +
              s"attempts: $e")
          return
      }
    }
  }
}
