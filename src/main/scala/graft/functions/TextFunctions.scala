package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

/** Text-analysis column builders for large-scale training-data pipelines:
  * token counting, language-ID heuristics, quality scoring, fingerprinting.
  *
  * All are pure `Column` expressions over built-in Catalyst functions, so
  * they stay inside whole-stage codegen and scale linearly with no shuffle —
  * the per-document map phase of a 100 TB corpus job.
  */
object TextFunctions {

  /** Whitespace-word count via regexp_count — robust to leading/trailing and
    * repeated whitespace (unlike split-array length). Case-folded first, like
    * [[tokens]]/[[fingerprint]]: an ALL-CAPS document has words too.
    */
  def wordCount(text: Column): Column = regexp_count(lower(text), lit("[a-z0-9]+"))

  /** Sentence count as runs of terminal punctuation — the denominator of
    * words-per-sentence, a standard prose-quality signal (repetitive or
    * boilerplate text skews it hard in either direction). Heuristic by
    * design (abbreviation dots count); engine-portable (DuckDB:
    * `length(regexp_extract_all(text, '[.!?]+'))`).
    */
  def sentenceCount(text: Column): Column = regexp_count(text, lit("[.!?]+"))

  /** BPE-ish token estimate: count of letter-runs, digit-runs and individual
    * punctuation marks — the shape of a byte-pair pre-tokenizer — plus the
    * classic chars/4 heuristic as a second signal. Case-folded.
    */
  def bpeishTokenCount(text: Column): Column =
    regexp_count(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"))

  def estTokensByChars(text: Column): Column =
    ceil(length(text) / lit(4.0)).cast("int")

  /** Stopword-marker hit counts per language — a tiny n-gram-free language-ID
    * heuristic (the real lists would be config, not code).
    */
  private val markers: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|and|is|of|to)\\b",
    "es" -> "\\b(el|la|de|que|los)\\b",
    "de" -> "\\b(der|die|das|und|ist)\\b")

  def markerHits(text: Column): Seq[(String, Column)] =
    markers.map { case (lang, re) => lang -> regexp_count(lower(text), lit(re)) }

  /** Argmax over marker hits with a fixed priority order on ties (en>es>de)
    * so the prediction is deterministic and ANSI-expressible. NULL text
    * predicts NULL — without the explicit guard every comparison is NULL
    * and the otherwise() branch would silently classify NULLs as "de".
    */
  def predictedLang(text: Column): Column = {
    val Seq(en, es, de) = markerHits(text).map(_._2)
    when(text.isNull, lit(null))
      .when(en >= es && en >= de, lit("en"))
      .when(es >= de, lit("es"))
      .otherwise(lit("de"))
  }

  /** Quality score in [0,1]: blend of stopword ratio, alpha ratio and a
    * length prior — the standard cheap pre-filter shape for corpus cleaning.
    * Pure IEEE arithmetic → deterministic across engines.
    */
  def qualityScore(text: Column): Column = {
    val words   = wordCount(text).cast("double")
    val stops   = regexp_count(lower(text), lit("\\b(the|and|is|of|to|a|in)\\b")).cast("double")
    val alpha   = regexp_count(lower(text), lit("[a-z]")).cast("double")
    val len     = length(text).cast("double")
    val stopR   = when(words > 0.0, stops / words).otherwise(lit(0.0))
    val alphaR  = when(len > 0.0, alpha / len).otherwise(lit(0.0))
    val lenOk   = when(len >= 20.0 && len <= 10000.0, lit(1.0)).otherwise(lit(0.0))
    stopR * 0.4 + alphaR * 0.4 + lenOk * 0.2
  }

  /** 64-bit content fingerprint: xxhash64 of the normalized text (casefold +
    * whitespace collapse) — the exact-dedup key that survives trivial edits.
    */
  def fingerprint(text: Column): Column =
    xxhash64(regexp_replace(lower(text), "\\s+", " "))

  /** ENGINE-PORTABLE 60-bit content fingerprint: the first 15 md5 hex
    * digits of the same normalized text, parsed as a positive BIGINT —
    * identical semantics to [[fingerprint]] (a content key surviving
    * trivial edits) with a hash any ANSI engine replays bit-exact
    * (`CAST('0x'||substr(md5(…),1,15) AS BIGINT)` in DuckDB), which is what
    * puts q_fingerprint under the driver's differential oracle. Production
    * dedup keys stay on the xxhash64 form (cheaper, full 64-bit space);
    * this is the reproducibility/certification variant — the same trade as
    * [[graft.operators.Dedup.portableBandBuckets]].
    */
  def fingerprintPortable(text: Column): Column =
    md5PrefixLong(regexp_replace(lower(text), "\\s+", " "), 15)

  /** The engine-portable md5-hex-prefix-to-BIGINT construction — the ONE
    * Spark spelling of the cross-engine hash contract every portable
    * operator shares (portable MinHash base hash, portable fingerprints,
    * packing groups; DuckDB replays it as
    * `CAST('0x' || substr(md5(x), 1, digits) AS BIGINT)`). `digits <= 15`
    * keeps the parsed value positive in a signed 64-bit lane; a drift in
    * any copy of this idiom would silently break only that operator's
    * oracle, so there is exactly one copy.
    */
  def md5PrefixLong(c: Column, digits: Int): Column = {
    require(digits >= 1 && digits <= 15,
      s"md5PrefixLong digits must be in [1, 15], got $digits")
    conv(substring(md5(c), 1, digits), 16, 10).cast("long")
  }

  /** Winnowing rolling-hash fingerprints (MOSS): `array<bigint>` of selected
    * k-gram hashes; any shared substring of length ≥ w+k−1 between two
    * documents shares at least one fingerprint. Native O(n) expression
    * ([[graft.functions.expr.GraftWinnow]]); normalize first so whitespace
    * and case edits don't shift the k-gram frame.
    */
  def winnowFingerprints(text: Column, k: Int = 8, w: Int = 4): Column = {
    import org.apache.spark.sql.{GraftSqlBridge => B}
    B.column(graft.functions.expr.GraftWinnow(
      B.expression(regexp_replace(lower(text), "\\s+", " ")), k, w))
  }

  /** Optimizer barrier for an EXPENSIVE string-array expression that is about
    * to be exploded: a nondeterministic identity. Without it,
    * `InferFiltersFromGenerate` synthesizes a `size(g)>0 AND isnotnull(g)`
    * filter for the Generate, and predicate pushdown then substitutes the
    * whole array-building expression into that filter at the scan — the
    * tokenize→shingle chain ends up evaluated ~3× per row (measured 17× wall
    * on the sf0.1 shingle explode: 8.9 s → 0.5 s with the barrier).
    * Nondeterminism forbids both the alias inlining and the pushdown, so the
    * inferred guard evaluates against the materialized attribute instead.
    * Cost: one Catalyst↔JVM round-trip of the array per row — noise next to
    * any chain worth guarding. Values are unchanged; "nondeterministic" is
    * only the optimizer contract.
    */
  val arrayBarrier: UserDefinedFunction =
    udf((a: Seq[String]) => a).asNondeterministic()

  /** [[arrayBarrier]] for `array<bigint>` columns (hash fingerprints). */
  val longArrayBarrier: UserDefinedFunction =
    udf((a: Seq[Long]) => a).asNondeterministic()

  /** [[longArrayBarrier]] variant whose elements may be NULL (boxed) — for
    * arrays of per-table LSH buckets, where a malformed vector hashes to
    * NULL in every table rather than failing the whole row.
    */
  val nullableLongArrayBarrier: UserDefinedFunction =
    udf((a: Seq[java.lang.Long]) => a).asNondeterministic()

  /** Lowercased whitespace tokens with empties removed. Native one-pass
    * form (r17): bit-identical to
    * `filter(split(lower(text), "\\s+"), t => length(t) > 0)` — the chain
    * it replaced, kept in test scope as the spec's truth side —
    * without the per-row regex/Pattern machinery and the interpreted
    * ArrayFilter HOF (TokensExprSpec pins equality on fixtures + corpus).
    */
  def tokens(text: Column): Column = {
    import org.apache.spark.sql.{GraftSqlBridge => B}
    B.column(graft.functions.expr.GraftTokens(B.expression(text)))
  }

  /** Alphanumeric terms (`[a-z0-9]+` over lowercased text) as an array —
    * the same tokenizer [[wordCount]] counts, materialized for term-level
    * work (TF-IDF). Mirrors DuckDB `regexp_extract_all(lower(text),
    * '[a-z0-9]+')` exactly.
    */
  def termsAlnum(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z0-9]+"), lit(0))

  /** Word-level n-gram shingles from an ALREADY-MATERIALIZED token array
    * column. Callers must tokenize into a real column first
    * (`df.select(tokens($"text").as("toks"))`) — passing the tokens
    * *expression* here would re-evaluate the whole tokenize subtree once per
    * shingle index inside the transform lambda (measured O(tokens²) per doc,
    * ~50× slower at 56 tokens/doc). Empty array when fewer than n tokens.
    */
  def shinglesFromTokens(toks: Column, n: Int): Column =
    // guard: sequence(1, k) with k < 1 would generate a *descending* range
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - lit(n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array())

  /** Convenience single-expression form. Only for one-off scalar use — see
    * the [[shinglesFromTokens]] caveat; hot paths must materialize tokens.
    */
  def shingles(text: Column, n: Int): Column = shinglesFromTokens(tokens(text), n)

  /** Native one-pass form of the hot-path shingle sandwich (r16): with
    * `distinct = true` this IS `arrayBarrier(array_distinct(
    * shinglesFromTokens(toks, n)))` — same strings, same first-occurrence
    * order, same empty-array short-doc branch, same optimizer-barrier
    * contract — computed in one codegen'd row-local loop instead of
    * interpreted HOFs plus a per-row UDF round-trip (ShinglesExprSpec gates
    * bit-equality against the declarative chain). With `distinct = false`
    * it replaces `arrayBarrier(shinglesFromTokens(toks, n))`. One caveat
    * inherited by design: a NULL token array yields NULL rather than the
    * chain's `[]` — indistinguishable under every consumer (explode /
    * `size > 0` filters); callers that would surface the array itself
    * should keep the declarative chain.
    */
  def shinglesNative(toks: Column, n: Int, distinct: Boolean = true): Column = {
    import org.apache.spark.sql.{GraftSqlBridge => B}
    B.column(graft.functions.expr.GraftShingles(B.expression(toks), n, distinct))
  }

  /** Native one-pass 64-bit SimHash over a token array (r16): replaces
    * [[graft.operators.Dedup.simhash]]'s token explode + 64-conditional-sum
    * aggregation with one row-local vote loop — bit-identical output
    * (integer votes are order-independent; same xxhash64 seed-42 draws;
    * SimhashExprSpec gates equality against the aggregation spelling).
    * NULL for empty/NULL token arrays — the docs the explode pipeline
    * emitted no row for; callers filter `isNotNull`.
    */
  def simhashNative(toks: Column): Column = {
    import org.apache.spark.sql.{GraftSqlBridge => B}
    B.column(graft.functions.expr.GraftSimhash(B.expression(toks)))
  }

  /** PII scrubbing — the redaction pass an LLM training pipeline runs before
    * anything else sees the text: emails → `<EMAIL>`, IPv4 addresses →
    * `<IP>`, then NANP-style phone numbers → `<PHONE>`, as three chained
    * `regexp_replace`s (codegen'd, map-only, no shuffle). Order matters: IPs
    * are redacted before phones so a dotted quad can never half-match the
    * dotted phone form. Patterns are deliberately restricted to syntax with
    * identical semantics in Java regex and RE2 (no lookaround, no
    * backreferences) so the DuckDB oracle replays them verbatim; like every
    * production scrubber these are high-recall heuristics, not a PII
    * guarantee — layout-aware detectors stack on top.
    */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val phoneRe = "\\(?\\b\\d{3}\\)?[-. ]\\d{3}[-. ]\\d{4}\\b"

  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailRe, "<EMAIL>"),
        ipv4Re, "<IP>"),
      phoneRe, "<PHONE>")

  /** Markup stripping — the crawl-cleaning normalizer that turns scraped
    * HTML-ish text into plain prose before any quality/dedup stage sees it
    * (reference corollary: the reference ingests clean CSV, but every web
    * corpus needs this first). Four passes, all chained `regexp_replace`s
    * (codegen'd, map-only, no shuffle):
    *
    *   1. drop `<script>`/`<style>` ELEMENTS wholesale — their content is
    *      code, not prose (non-greedy `(?is)` block match);
    *   2. strip remaining tags to a space (space, not empty: `a<br>b` must
    *      not weld into `ab`);
    *   3. decode the six common entities, `&amp;` deliberately LAST and in
    *      a single pass — `&amp;lt;` decodes to the LITERAL `&lt;` the
    *      author wrote, never recursively to `<`;
    *   4. collapse whitespace runs and trim.
    *
    * Like [[scrubPii]], every pattern is restricted to syntax with
    * identical semantics in Java regex and RE2 (inline `(?is)` flags,
    * non-greedy, non-capturing groups; the explicit `[ \t\r\n]` class
    * instead of `\s`, whose membership differs between the engines), so
    * the DuckDB oracle replays the exact same strings. A heuristic
    * stripper, not an HTML parser — comments strip only while they contain
    * no inner `>`, CDATA and exotic entities pass through; that is the
    * standard trade at crawl scale.
    */
  val scriptStyleRe = "(?is)<(?:script|style)[^>]*>.*?</(?:script|style)[ \\t\\r\\n]*>"
  val tagRe = "<[^>]*>"
  val wsRunRe = "[ \\t\\r\\n]+"
  val entityDecode: Seq[(String, String)] = Seq(
    "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
    "&quot;" -> "\"", "&#39;" -> "'", "&apos;" -> "'",
    "&amp;" -> "&")

  def stripMarkup(text: Column): Column = {
    val noTags = regexp_replace(
      regexp_replace(text, scriptStyleRe, " "), tagRe, " ")
    val decoded = entityDecode.foldLeft(noTags) {
      case (c, (pat, repl)) => regexp_replace(c, pat, repl)
    }
    trim(regexp_replace(decoded, wsRunRe, " "))
  }

  /** Unicode normalization ahead of dedup/fingerprinting — three stages,
    * each with identical semantics in this engine and the DuckDB oracle:
    *
    *   1. strip zero-width characters (ZWSP/ZWNJ/ZWJ/BOM) and C0/DEL
    *      controls except `\t\r\n` — the invisible bytes that make two
    *      renderings of one document hash apart (and a classic dedup-evasion
    *      vector); whitespace controls survive because they carry layout
    *      that later stages (wsRunRe, tokenizers) own;
    *   2. NFC canonical composition ([[graft.functions.expr.GraftNfc]] —
    *      native codegen; DuckDB: `nfc_normalize`), so decomposed accents
    *      compose and stacked combining marks canonically reorder;
    *   3. full Unicode lowercase (`lower` is the same simple-mapping fold in
    *      both engines for everything but the locale-contextual characters —
    *      İ and final sigma — which the gate fixture deliberately avoids;
    *      a corpus needing Turkic case rules needs a locale-aware fold
    *      upstream).
    *
    * Strip BEFORE composing: a zero-width joiner lodged between a base and
    * its combining mark would otherwise block the composition it sits in
    * the middle of. The class is `\x{...}`-escape syntax only — identical
    * membership in Java regex and RE2, the stripMarkup portability rule.
    */
  val zeroWidthCtlRe: String =
    "[\\x{200B}\\x{200C}\\x{200D}\\x{FEFF}" +
      "\\x{00}-\\x{08}\\x{0B}\\x{0C}\\x{0E}-\\x{1F}\\x{7F}]"

  def nfc(text: Column): Column = {
    import org.apache.spark.sql.{GraftSqlBridge => B}
    B.column(graft.functions.expr.GraftNfc(B.expression(text)))
  }

  def normalizeText(text: Column): Column =
    lower(nfc(regexp_replace(text, zeroWidthCtlRe, "")))

  /** zlib-deflated byte length (native [[graft.functions.expr.GraftDeflateLen]]). */
  def deflateLen(text: Column): Column = {
    import org.apache.spark.sql.{GraftSqlBridge => B}
    B.column(graft.functions.expr.GraftDeflateLen(B.expression(text)))
  }

  /** Compression-ratio quality signal: deflated bytes / raw UTF-8 bytes —
    * the RefinedWeb-family filter. LOW ratio = repetitive boilerplate
    * (keyword stuffing, templates); a ratio NEAR/OVER a natural-language
    * baseline (~0.4-0.6 English prose) flags noise/binary junk. NULL on
    * empty text (a 0/0 lane is a classification no-op, not a 0).
    */
  def compressRatio(text: Column): Column =
    when(octet_length(text) > 0,
      deflateLen(text).cast("double") / octet_length(text).cast("double"))

  /** Tracking query parameters a crawl canonicalizer strips before URL
    * dedup — `key=` prefixes, anchored; shared with the oracle so the list
    * edits in one place (cf. the reference's parse-then-normalize field
    * hygiene, transform/transformations.py:1-40, applied to URLs).
    */
  val trackingParamRe = "^(utm_[^=]*|fbclid|gclid|ref)="

  /** Crawl-grade URL canonicalization — the key-maker for URL-level dedup,
    * the FIRST and cheapest dedup stage of every web pipeline (two fetches
    * of one page must collapse before any content hashing spends cycles).
    *
    * Rules (Nutch-basic family; deliberately byte-deterministic and
    * engine-portable rather than exhaustively RFC 3986):
    *   1. fragment dropped; 2. scheme + host lowercased (path/query case
    *   kept — case-significant on most origin servers); 3. default port
    *   stripped scheme-aware (`:80` http, `:443` https — a NON-default
    *   port is meaning-bearing and survives); 4. leading `www.` stripped;
    *   5. duplicate slashes collapsed, trailing slash trimmed, empty path
    *   → `/`; 6. tracking params ([[trackingParamRe]]) and empty params
    *   dropped; 7. surviving params sorted (param ORDER is almost never
    *   semantic; byte order makes equal queries equal strings); 8. empty
    *   query drops its `?`.
    *
    * Percent-encoding normalization and IDN are out of scope (both need a
    * full RFC parser; at dedup-key power the rules above capture the
    * overwhelming duplicate mass). Pure builtin composition — map-only,
    * whole-stage-codegen'd, zero shuffles at any scale.
    */
  def canonicalizeUrl(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([^:/?#]+)://", 1))
    val hostRaw = lower(regexp_extract(noFrag, "^[^:/?#]+://([^/?#]*)", 1))
    val hostNoPort = when(scheme === "http", regexp_replace(hostRaw, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostRaw, ":443$", ""))
      .otherwise(hostRaw)
    val host = regexp_replace(hostNoPort, "^www\\.", "")
    val pathRaw = regexp_extract(noFrag, "^[^:/?#]+://[^/?#]*([^?#]*)", 1)
    val pathTrim =
      regexp_replace(regexp_replace(pathRaw, "/{2,}", "/"), "/+$", "")
    val path = when(pathTrim === "", lit("/")).otherwise(pathTrim)
    val qRaw = regexp_extract(noFrag, "^[^?#]*\\?([^#]*)", 1)
    val params = filter(split(qRaw, "&"),
      p => p =!= "" && !p.rlike(trackingParamRe))
    concat(scheme, lit("://"), host, path,
      when(size(params) > 0,
        concat(lit("?"), array_join(array_sort(params), "&")))
        .otherwise(lit("")))
  }

  /** Render a Scala string as a DuckDB SQL expression that reconstructs it
    * byte-for-byte: printable-ASCII runs stay literal, everything else
    * (controls, zero-width, any non-ASCII) becomes `chr(codepoint)` — so an
    * oracle fixture salted with exotic codepoints ships as plain-ASCII SQL
    * with zero quoting/encoding ambiguity on the wire.
    */
  def sqlStringLit(s: String): String = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val buf = new StringBuilder
    def flush(): Unit =
      if (buf.nonEmpty) { out += s"'${buf.toString}'"; buf.clear() }
    // by CODE POINT, not char: an astral char is a surrogate pair in Scala
    // strings, and chr(surrogate-half) is not a valid DuckDB code point
    s.codePoints().forEach { cp =>
      if (cp >= ' ' && cp < 0x7f && cp != '\'') buf.append(cp.toChar)
      else { flush(); out += s"chr($cp)" }
    }
    flush()
    if (out.isEmpty) "''" else out.mkString(" || ")
  }
}
