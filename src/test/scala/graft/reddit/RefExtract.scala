package graft.reddit

import java.nio.file.Files
import java.time.{LocalDate, LocalDateTime}
import java.time.format.DateTimeFormatter

/** Generated daily extracts in the reference's CSV format (FIXTURES.md §1),
  * for the specs whose assertions hold for any such extract. The
  * reference's own files are not in the repository.
  *
  * Post `n` is the same post on every day that fetches it: id `1j` + four
  * digits (ids rise with creation time, as Reddit's base36 ids do), created
  * `n` × 4 h 7 min after 2025-03-17 15:15:28, all in r/stocks. Its score is
  * `7n` + the fetch day of month, so scores are distinct within a day and a
  * later fetch carries a higher score.
  *
  * The serialization quirks of the real files are kept: a header row,
  * RFC-4180 quoting with `""` escapes, embedded newlines and commas in
  * quoted `title` and `selftext`, second-precision `created_utc` next to
  * microsecond `extraction_timestamp`, "True"/"False" flags, and
  * `selftext_length` equal to the length of `selftext`. Post 12 has an
  * empty author (a deleted account) and post 13 a title over the 4000
  * varchar width.
  */
object RefExtract {

  /** Posts 1-10 fetched on 2025-03-20. */
  def earlier(): String = day(LocalDate.of(2025, 3, 20), 1 to 10)

  /** Posts 9-38 fetched on 2025-03-24: 30 ids, two shared with [[earlier]]. */
  def later(): String = day(LocalDate.of(2025, 3, 24), 9 to 38)

  private val firstPost = LocalDateTime.of(2025, 3, 17, 15, 15, 28)
  private val seconds = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val micros = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  private def flag(b: Boolean): String = if (b) "True" else "False"

  /** RFC-4180 minimal quoting, as pandas `to_csv` writes it. */
  private def cell(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  private def title(n: Int): String = n match {
    case 13 => "Long read " + "x" * 4100
    case _ if n % 7 == 0 => "\"$T" + n + "\" says analyst"
    case _ if n % 5 == 0 => s"Q$n earnings, thoughts?"
    case _ if n % 11 == 0 => s"Weekly thread $n\n(part two)"
    case _ => s"Daily discussion $n"
  }

  private def selftext(n: Int): String =
    if (n % 6 == 0) s"One line for post $n, no breaks."
    else (0 to n % 4).map(p =>
      s"Paragraph $p of post $n: holding ${n * 10} shares, " + "\"buy the dip\" they said.\n" +
        s"Target €${n + p}, stop at ${n - p}.").mkString("\n\n")

  /** The CSV rows, without the header, of `posts` fetched on `date`. */
  def rows(date: LocalDate, posts: Seq[Int]): Seq[String] = {
    val extraction = date.atTime(14, 15, 26, 594521000)
    posts.zipWithIndex.map { case (n, i) =>
      val id = f"1j$n%04d"
      val created = firstPost.plusMinutes(n * 247L)
      val stamp = extraction.plusNanos(i * 1013457000L)
      require(created.isBefore(stamp), s"post $n is created after its fetch on $date")
      val body = selftext(n)
      val nsfw = n % 10 == 3
      Seq(id, title(n), s"${7 * n + date.getDayOfMonth}", s"${n * 3 % 17}",
        if (n == 12) "" else s"user_$n", created.format(seconds),
        s"https://www.reddit.com/r/stocks/comments/$id/post_$n/", s"0.${50 + n % 50}",
        flag(nsfw), flag(n % 15 == 0), flag(n == 9), body, "stocks",
        stamp.format(micros), s"${body.length}", flag(nsfw)).map(cell).mkString(",")
    }
  }

  /** Writes the header row, then `rows`, to a file `name` in a new temp
    * directory and returns the file's path.
    */
  def write(name: String, rows: Seq[String]): String = {
    val p = Files.createTempDirectory("refextract").resolve(name)
    Files.writeString(p, (RedditSchema.columns.mkString(",") +: rows).mkString("", "\n", "\n"))
    p.toString
  }

  private def day(date: LocalDate, posts: Seq[Int]): String =
    write(date.format(DateTimeFormatter.BASIC_ISO_DATE) + ".csv", rows(date, posts))
}
