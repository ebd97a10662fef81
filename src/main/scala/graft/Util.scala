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
}
