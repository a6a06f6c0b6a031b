package graft.tools

import java.io.{File, PrintWriter}

/** Reference-publisher parity (EP3, `utils/message_publisher.py:91-119`):
  * for each user, `perUser` JSON wire messages 10 s apart in event time
  * ending at `endEpochS`, `click = 1` — the reference's only deterministic
  * fixture, reproduced as JSON-lines files consumable by
  * `Sources.jsonLines` (batch) or `Sources.wireStream` (streaming).
  */
object Publisher {

  def messageLines(users: Seq[Int], perUser: Int, endEpochS: Long): Seq[String] =
    for {
      u <- users
      i <- 0 until perUser
    } yield {
      val t = endEpochS - (perUser - 1 - i) * 10L
      s"""{"event_time": $t, "user_id": $u, "click": 1}"""
    }

  /** Write one JSON-lines file into `dir`; returns the file. */
  def publish(dir: String, users: Seq[Int], perUser: Int, endEpochS: Long): File = {
    val f = new File(dir, s"messages_$endEpochS.json")
    val w = new PrintWriter(f)
    try messageLines(users, perUser, endEpochS).foreach(w.println)
    finally w.close()
    f
  }

  /** CLI: Publisher <dir> [users=3] [perUser=10] [endEpochS=now] */
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val nUsers = if (args.length > 1) args(1).toInt else 3
    val perUser = if (args.length > 2) args(2).toInt else 10
    val end = if (args.length > 3) args(3).toLong
      else System.currentTimeMillis() / 1000
    new File(dir).mkdirs()
    val f = publish(dir, 1000 until (1000 + nUsers), perUser, end)
    println(s"[publisher] wrote ${nUsers * perUser} messages to $f")
  }
}
