package graft.cli

/** Command-line options: `--key value` pairs and bare `--flag`s, checked
  * before anything runs. An unknown option, an option without its value
  * or a stray value throws an [[IllegalArgumentException]] that names the
  * argument and lists the accepted options. Returns option names without
  * the `--`; a flag maps to `""`. */
object Options {
  def parse(args: Seq[String], valued: Set[String],
            flags: Set[String] = Set.empty): Map[String, String] = {
    def fail(why: String): Nothing = throw new IllegalArgumentException(
      s"$why; accepted options: " +
        (valued ++ flags).toSeq.sorted.map("--" + _).mkString(", "))
    @annotation.tailrec
    def go(rest: List[String], acc: Map[String, String]): Map[String, String] =
      rest match {
        case Nil => acc
        case a :: _ if !a.startsWith("--") => fail(s"unexpected argument '$a'")
        case a :: tail if flags(a.drop(2)) => go(tail, acc + (a.drop(2) -> ""))
        case a :: _ if !valued(a.drop(2)) => fail(s"unknown option '$a'")
        case a :: v :: tail if !v.startsWith("--") =>
          go(tail, acc + (a.drop(2) -> v))
        case a :: _ => fail(s"option '$a' needs a value")
      }
    go(args.toList, Map.empty)
  }
}
