package graft

/** The seeded text cases the kernel specs share: 11 fixed edge cases and
  * 300 generated docs over the inputs the single-space rule has to get
  * right — empty strings, runs of spaces, leading and trailing spaces,
  * tabs and newlines (not delimiters), multi-byte UTF-8 including
  * surrogate pairs, and nulls. A fixed-seed generator stands in for a
  * property library (the scalatestplus bridge is not in the offline
  * cache); `rnd` goes on drawing after `texts` for a spec's own cases. */
class KernelTextFixture {
  val rnd = new scala.util.Random(7)
  private val vocab = Seq("the", "a", "of", "cat", "Zoë", "naïve", "漢字",
    "😀", "x𝄞y", "tab\tbed", "new\nline", "é")
  private val seps = Seq(" ", " ", " ", "  ", "   ", "\t", " \t ", "\n", " \n")

  def text(): String = {
    val n = rnd.nextInt(9)
    val body = (0 until n).map { i =>
      (if (i > 0) seps(rnd.nextInt(seps.length)) else "") +
        vocab(rnd.nextInt(vocab.length))
    }.mkString
    val lead = if (rnd.nextInt(4) == 0) " " * (1 + rnd.nextInt(3)) else ""
    val trail = if (rnd.nextInt(4) == 0) " " * (1 + rnd.nextInt(3)) else ""
    lead + body + trail
  }

  val fixed: Seq[Option[String]] = Seq(None, Some(""), Some(" "),
    Some("     "), Some("\t"), Some("\n \n"), Some("a"), Some(" a "),
    Some("a  b"), Some("😀 😀"), Some("the the  the"))

  lazy val texts: Seq[Option[String]] =
    fixed ++ Seq.fill(300)(if (rnd.nextInt(15) == 0) None else Some(text()))
}
