package graft.model

/** Typed row models for the reference's on-disk formats (SURVEY.md
  * §1.2, FIXTURES.md §A).
  */
object Schemas {

  /** data.jsonl — meetings table (ref transcribe_council.py:40-73). */
  case class Meeting(
      title: String,
      date: java.sql.Timestamp,
      time: String,
      video_page: Option[String],
      video: String,
      agenda: Option[String],
      minutes: Option[String],
      box_link: Option[String])

  /** Whisper transcript segment (ref transcribe_council.py:89; fields
    * consumed downstream per summarize.py:23-24, 143-154). */
  case class Segment(
      id: Long,
      start: Double,
      end: Double,
      text: String,
      no_speech_prob: Double,
      file: String)
}
