package graft.etl

/** Pluggable LLM enrichment client.
  *
  * The reference's one custom operator is a scalar row function
  * `(title, content) → (sentiment, category, summary)` wrapping an OpenAI
  * chat call (`Main.py:53-124`). Its `DISABLE_LLM` env short-circuit
  * (`Main.py:86-87`) is the hermetic-test seam; in this zero-egress
  * engine the deterministic stub is the default implementation and any
  * real HTTP client plugs in behind the same trait.
  *
  * Implementations must be total: never throw (the caller additionally
  * wraps calls in Try — row-level fault isolation, `Main.py:122-124`
  * parity — so one bad row never fails a task, let alone the job).
  */
trait LlmClient extends Serializable {
  def enrich(title: String, content: String): LlmResult
}

final case class LlmResult(sentiment: String, category: String, summary: String)

object LlmClient {
  /** Error tuple the reference emits on any failure (`Main.py:99-101`). */
  val errorResult: LlmResult = LlmResult("ERROR_API", "ERROR_API", "ERROR_API")

  /** Field default when the model response omits a key (`Main.py:114-119`). */
  val notAvailable = "N/A"

  /** Prompt template — VERBATIM the reference's prompt (`Main.py:76-83`),
    * including its punctuation and missing space before `\nTitle:`. The
    * constant prefix is built once (the reference re-interpolates the
    * category list per row — ConstantFolding territory, SURVEY.md §4).
    */
  private val promptPrefix: String = {
    val cats = graft.schema.Schemas.categoriesToKeep.mkString(", ")
    "Analyze the following article and provide THREE data points in JSON format: " +
      "1. The sentiment, choosing ONLY one of: 'Positive', 'Negative', 'Neutral'. " +
      s"2. The CATEGORY, choosing ONLY one from this list: $cats. " +
      "3. A concise summary of a maximum of 2 sentences explaining why this " +
      "could be affecting the global markets. " +
      "Ensure the JSON keys are 'sentiment', 'category', and 'summary'."
  }

  def promptFor(title: String, content: String): String =
    s"$promptPrefix\nTitle: $title\nContent: $content"
}

/** Byte-for-byte parity with the reference's `DISABLE_LLM=1` stub
  * (`Main.py:86-87`): fixed tuple, no network, no state.
  */
object DisabledLlmClient extends LlmClient {
  override def enrich(title: String, content: String): LlmResult =
    LlmResult("ERROR_API", "ERROR_API", "LLM disabled for test run.")
}

/** Transport seam for [[HttpLlmClient]]: given (model, prompt,
  * temperature), return the model's raw response body — expected to be a
  * strict-JSON object string (the reference requests
  * `response_format={"type": "json_object"}`, `Main.py:107-111`). A real
  * deployment implements this over its HTTP stack; tests plug in fakes.
  * Construction may throw (missing credentials, no endpoint) — the
  * client maps that to the unavailable tuple, mirroring the reference's
  * import-failure path (`Main.py:92-101`).
  */
trait LlmTransport {
  def complete(model: String, prompt: String, temperature: Double): String
}

/** The reference's live path (`Main.py:92-124`), compile-only in this
  * zero-egress build: lazy client init on first call per executor, a
  * `temperature=0.0` JSON-object completion, field-wise defaulting
  * (`llm_output.get(key, "N/A")`, `Main.py:114-119`), and a never-throw
  * contract where init failure and call/parse failure return the
  * reference's distinct error tuples.
  *
  * The transport is passed as a serializable FACTORY: the task closure
  * ships the factory, and the `lazy val` materializes one transport per
  * executor JVM on first use — the Spark rendering of the reference's
  * `global client; if client is None: client = OpenAI(...)`.
  */
final class HttpLlmClient(
    transportFactory: () => LlmTransport, // Scala lambdas serialize with the closure
    model: String = "gpt-3.5-turbo") extends LlmClient {

  @transient private lazy val transport: Either[Unit, LlmTransport] =
    try Right(transportFactory()) catch { case _: Exception => Left(()) }

  override def enrich(title: String, content: String): LlmResult =
    transport match {
      case Left(_) =>
        LlmResult("ERROR_API", "ERROR_API", "LLM client unavailable.")
      case Right(t) =>
        try {
          val raw = t.complete(model, LlmClient.promptFor(title, content), 0.0)
          // strict parse: a non-object response is a failure, exactly as
          // the reference's dict.get on a non-dict raises → error tuple
          val node = HttpLlmClient.json.readTree(raw)
          if (node == null || !node.isObject) throw new IllegalArgumentException("not a JSON object")
          def field(k: String): String =
            if (node.hasNonNull(k)) node.get(k).asText() else LlmClient.notAvailable
          LlmResult(field("sentiment"), field("category"), field("summary"))
        } catch {
          case _: Exception =>
            LlmResult("ERROR_API", "ERROR_API", "Error generating summary.")
        }
    }
}

object HttpLlmClient {
  /** One mapper per JVM: building one costs more than the parse it
    * serves, and `readTree` on a shared, unconfigured mapper is
    * thread-safe.
    */
  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
}

/** Deterministic offline model: derives plausible enrichment from content
  * hashes so tests can exercise non-constant outputs (distinct sentiments
  * per row, off-list categories — the golden parquet proves the real LLM
  * is not constrained to the 5-list either, SURVEY.md §7.5.8).
  */
object HashingStubClient extends LlmClient {
  private val sentiments = Array("Positive", "Negative", "Neutral")
  private val categories = Array(
    "WORLD NEWS", "POLITICS", "BUSINESS", "TECH", "MONEY", "HEALTH", "SPORTS")

  override def enrich(title: String, content: String): LlmResult = {
    val t = Option(title).getOrElse("")
    val c = Option(content).getOrElse("")
    val h = scala.util.hashing.MurmurHash3.stringHash(t + "\u0000" + c)
    LlmResult(
      sentiments(math.floorMod(h, sentiments.length)),
      categories(math.floorMod(h >> 8, categories.length)),
      s"Deterministic market impact summary for: ${t.take(40)}")
  }
}
