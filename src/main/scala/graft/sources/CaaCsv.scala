package graft.sources

/** Bit-exact port of the reference's hand-rolled CSV dialect
  * (`splitbycomma`, reference `Program/Delay.java:144-162`, duplicated
  * at `Program/Late.java:131-149`) — used only on the fidelity path;
  * the engine mainline reads typed Parquet/CSV (SURVEY.md §1.3).
  *
  * Dialect quirks reproduced deliberately (they are observable in
  * reference output):
  *  1. a field starting with `"` is scanned to the next `"` and the
  *     returned token RETAINS both quotes;
  *  2. escaped quotes (`""`) are not supported;
  *  3. a trailing comma drops the final empty field;
  *  4. the empty string yields an empty array;
  *  5. a line STARTING with a comma returns the whole line as one token:
  *     the reference computes `end = indexOf(',', i) - 1` and treats the
  *     resulting -1 as "no comma found" (`end = length - 1`), which at
  *     i == 0 swallows the rest of the line. Downstream jobs then crash
  *     on `s(7)` — that crash is reference behavior too;
  *  6. an unterminated quote at position 0 yields an empty token and
  *     re-scans from index 1; at any later position it throws
  *     (`substring(start, 0)`), killing the task like the reference.
  *
  * Quirks 5 and 6 fall straight out of keeping the reference's exact
  * index arithmetic (`indexOf`-based `end`, `i = end + 2`) rather than
  * a cleaned-up scanner.
  *
  * The tokens collect in a `java.util.ArrayList` and leave as a
  * `String[]`: a Scala buffer's `toArray` looks up a `ClassTag` on every
  * line, about a tenth of the Delay parse loop's CPU samples.
  */
object CaaCsv {

  def splitByComma(line: String): Array[String] = {
    val out = new java.util.ArrayList[String]()
    var i = 0
    val n = line.length
    while (i < n) {
      val start = i
      val end =
        if (line.charAt(i) == '"') line.indexOf('"', i + 1)
        else {
          val e = line.indexOf(',', i) - 1
          if (e < 0) n - 1 else e // -1 at i==0 only: leading comma (quirk 5)
        }
      out.add(line.substring(start, end + 1)) // throws on quirk 6 when start > 0
      i = end + 2
    }
    out.toArray(new Array[String](out.size))
  }
}
