package graft.functions

import java.util.Locale

/** HTML character-reference decoding — the WHATWG HTML §13.5 subset the
  * engine supports, fixed and documented so the production extraction and
  * its relational twin share one definition (determinism, BASELINE.json:14).
  *
  * Coverage (round 3, expanded from the r2 ~70-name list):
  *
  *   - the COMPLETE HTML 4.01 named set (252 names: full Latin-1 row
  *     U+00A0-U+00FF generated positionally, full Greek alphabet, the
  *     Symbol-font math/arrow set, Latin-Extended/punctuation specials) —
  *     this set covers essentially all named-reference occurrences in real
  *     web text;
  *   - curated HTML5 additions with unambiguous mappings (ASCII aliases like
  *     `&sol;`/`&lpar;`, `&leq;`/`&geq;`, dingbats like `&check;`);
  *   - decimal `&#123;` / hex `&#x1F;` numeric references, with or without
  *     the trailing `;` (the spec's error-tolerant path);
  *   - **semicolon-less LEGACY named references** (spec §13.5 "historical"
  *     column): `&copy 2026`, `caf&eacute`, `&ampx` decode via longest-
  *     prefix match over the legacy set — exactly the browser behavior for
  *     pre-HTML4 content. Only the legacy names (HTML 2.0/3.2 era: the
  *     Latin-1 row plus amp/lt/gt/quot and their historical uppercase forms)
  *     participate; `&euro` without `;` stays literal, as in browsers.
  *
  * Known divergence from the full 2 231-name HTML5 table: the long
  * mathematical alias families (`&DoubleLongLeftRightArrow;`,
  * `&NegativeVeryThinSpace;`, ...) are not included — they are vanishingly
  * rare in web text, and this table is hand-verified offline rather than
  * generated from the spec's entities.json. Unknown named entities stay
  * literal (`&foobar;` keeps its bytes), matching browser behavior for
  * unrecognized names.
  */
object Entities {

  /** U+00A0..U+00FF in codepoint order — the HTML 2.0/3.2 Latin-1 row. */
  private val latin1Names: Vector[String] = Vector(
    "nbsp", "iexcl", "cent", "pound", "curren", "yen", "brvbar", "sect",
    "uml", "copy", "ordf", "laquo", "not", "shy", "reg", "macr",
    "deg", "plusmn", "sup2", "sup3", "acute", "micro", "para", "middot",
    "cedil", "sup1", "ordm", "raquo", "frac14", "frac12", "frac34", "iquest",
    "Agrave", "Aacute", "Acirc", "Atilde", "Auml", "Aring", "AElig", "Ccedil",
    "Egrave", "Eacute", "Ecirc", "Euml", "Igrave", "Iacute", "Icirc", "Iuml",
    "ETH", "Ntilde", "Ograve", "Oacute", "Ocirc", "Otilde", "Ouml", "times",
    "Oslash", "Ugrave", "Uacute", "Ucirc", "Uuml", "Yacute", "THORN", "szlig",
    "agrave", "aacute", "acirc", "atilde", "auml", "aring", "aelig", "ccedil",
    "egrave", "eacute", "ecirc", "euml", "igrave", "iacute", "icirc", "iuml",
    "eth", "ntilde", "ograve", "oacute", "ocirc", "otilde", "ouml", "divide",
    "oslash", "ugrave", "uacute", "ucirc", "uuml", "yacute", "thorn", "yuml"
  )

  private val latin1: Map[String, String] =
    latin1Names.zipWithIndex.map { case (n, i) => n -> (0xa0 + i).toChar.toString }.toMap

  /** Greek alphabet (HTML 4.01): uppercase 0x391.., lowercase 0x3B1.. with
    * final sigma, plus the symbol variants.
    */
  private val greek: Map[String, String] = {
    val names = Vector("Alpha", "Beta", "Gamma", "Delta", "Epsilon", "Zeta",
      "Eta", "Theta", "Iota", "Kappa", "Lambda", "Mu", "Nu", "Xi", "Omicron",
      "Pi", "Rho", "Sigma", "Tau", "Upsilon", "Phi", "Chi", "Psi", "Omega")
    def cp(base: Int, i: Int): Int = {
      // the codepoint row skips 0x3A2 / 0x3C2 (final sigma) after Rho
      val off = if (i >= 17) i + 1 else i
      base + off
    }
    val upper = names.zipWithIndex.map { case (n, i) => n -> cp(0x391, i).toChar.toString }
    val lower = names.zipWithIndex.map { case (n, i) => n.toLowerCase(Locale.ROOT) -> cp(0x3b1, i).toChar.toString }
    (upper ++ lower).toMap ++ Map(
      "sigmaf" -> "ς", "thetasym" -> "ϑ", "upsih" -> "ϒ", "piv" -> "ϖ")
  }

  /** HTML 4.01 symbol set (Symbol-font block: math, arrows, card suits). */
  private val symbols: Map[String, Int] = Map(
    "fnof" -> 0x192,
    "bull" -> 0x2022, "hellip" -> 0x2026, "prime" -> 0x2032, "Prime" -> 0x2033,
    "oline" -> 0x203e, "frasl" -> 0x2044,
    "weierp" -> 0x2118, "image" -> 0x2111, "real" -> 0x211c, "trade" -> 0x2122,
    "alefsym" -> 0x2135,
    "larr" -> 0x2190, "uarr" -> 0x2191, "rarr" -> 0x2192, "darr" -> 0x2193,
    "harr" -> 0x2194, "crarr" -> 0x21b5,
    "lArr" -> 0x21d0, "uArr" -> 0x21d1, "rArr" -> 0x21d2, "dArr" -> 0x21d3,
    "hArr" -> 0x21d4,
    "forall" -> 0x2200, "part" -> 0x2202, "exist" -> 0x2203, "empty" -> 0x2205,
    "nabla" -> 0x2207, "isin" -> 0x2208, "notin" -> 0x2209, "ni" -> 0x220b,
    "prod" -> 0x220f, "sum" -> 0x2211, "minus" -> 0x2212, "lowast" -> 0x2217,
    "radic" -> 0x221a, "prop" -> 0x221d, "infin" -> 0x221e, "ang" -> 0x2220,
    "and" -> 0x2227, "or" -> 0x2228, "cap" -> 0x2229, "cup" -> 0x222a,
    "int" -> 0x222b, "there4" -> 0x2234, "sim" -> 0x223c, "cong" -> 0x2245,
    "asymp" -> 0x2248, "ne" -> 0x2260, "equiv" -> 0x2261, "le" -> 0x2264,
    "ge" -> 0x2265, "sub" -> 0x2282, "sup" -> 0x2283, "nsub" -> 0x2284,
    "sube" -> 0x2286, "supe" -> 0x2287, "oplus" -> 0x2295, "otimes" -> 0x2297,
    "perp" -> 0x22a5, "sdot" -> 0x22c5,
    "lceil" -> 0x2308, "rceil" -> 0x2309, "lfloor" -> 0x230a, "rfloor" -> 0x230b,
    "lang" -> 0x27e8, "rang" -> 0x27e9, "loz" -> 0x25ca,
    "spades" -> 0x2660, "clubs" -> 0x2663, "hearts" -> 0x2665, "diams" -> 0x2666
  )

  /** HTML 4.01 "special" set (Latin Extended + general punctuation). */
  private val specials: Map[String, Int] = Map(
    "quot" -> 0x22, "amp" -> 0x26, "lt" -> 0x3c, "gt" -> 0x3e, "apos" -> 0x27,
    "OElig" -> 0x152, "oelig" -> 0x153, "Scaron" -> 0x160, "scaron" -> 0x161,
    "Yuml" -> 0x178, "circ" -> 0x2c6, "tilde" -> 0x2dc,
    "ensp" -> 0x2002, "emsp" -> 0x2003, "thinsp" -> 0x2009,
    "zwnj" -> 0x200c, "zwj" -> 0x200d, "lrm" -> 0x200e, "rlm" -> 0x200f,
    "ndash" -> 0x2013, "mdash" -> 0x2014,
    "lsquo" -> 0x2018, "rsquo" -> 0x2019, "sbquo" -> 0x201a,
    "ldquo" -> 0x201c, "rdquo" -> 0x201d, "bdquo" -> 0x201e,
    "dagger" -> 0x2020, "Dagger" -> 0x2021, "permil" -> 0x2030,
    "lsaquo" -> 0x2039, "rsaquo" -> 0x203a, "euro" -> 0x20ac
  )

  /** Curated HTML5 additions with unambiguous, hand-verified mappings. */
  private val html5: Map[String, Int] = Map(
    // ASCII aliases
    "excl" -> 0x21, "num" -> 0x23, "dollar" -> 0x24, "percnt" -> 0x25,
    "lpar" -> 0x28, "rpar" -> 0x29, "ast" -> 0x2a, "plus" -> 0x2b,
    "comma" -> 0x2c, "period" -> 0x2e, "sol" -> 0x2f, "colon" -> 0x3a,
    "semi" -> 0x3b, "equals" -> 0x3d, "quest" -> 0x3f, "commat" -> 0x40,
    "lsqb" -> 0x5b, "bsol" -> 0x5c, "rsqb" -> 0x5d, "Hat" -> 0x5e,
    "lowbar" -> 0x5f, "grave" -> 0x60, "lcub" -> 0x7b, "vert" -> 0x7c,
    "rcub" -> 0x7d, "Tab" -> 0x9, "NewLine" -> 0xa,
    "lbrack" -> 0x5b, "rbrack" -> 0x5d, "lbrace" -> 0x7b, "rbrace" -> 0x7d,
    "verbar" -> 0x7c, "midast" -> 0x2a,
    // case variants the HTML5 table carries
    "AMP" -> 0x26, "LT" -> 0x3c, "GT" -> 0x3e, "QUOT" -> 0x22,
    "COPY" -> 0xa9, "REG" -> 0xae, "TRADE" -> 0x2122,
    // math aliases
    "leq" -> 0x2264, "geq" -> 0x2265, "wedge" -> 0x2227, "vee" -> 0x2228,
    "subset" -> 0x2282, "supset" -> 0x2283, "in" -> 0x2208,
    // dingbats / misc
    "check" -> 0x2713, "cross" -> 0x2717, "starf" -> 0x2605, "star" -> 0x2606,
    "phone" -> 0x260e, "female" -> 0x2640, "male" -> 0x2642,
    "hyphen" -> 0x2010, "dash" -> 0x2010
  )

  val named: Map[String, String] =
    latin1 ++ greek ++
      (symbols ++ specials ++ html5).map { case (n, cp) =>
        n -> new String(Character.toChars(cp))
      }

  /** Names that decode WITHOUT a trailing semicolon (WHATWG §13.5 legacy
    * column): the HTML 2.0/3.2-era set. All other names require `;`.
    */
  val legacy: Set[String] =
    latin1Names.toSet ++ Set("amp", "lt", "gt", "quot") ++
      Set("AMP", "LT", "GT", "QUOT", "COPY", "REG")

  private val maxLegacyLen: Int = legacy.iterator.map(_.length).max

  /** Decode one character reference starting at `i` (which must point at the
    * '&'). Returns (decodedString, nextIndex). If no valid reference is found,
    * returns ("&", i + 1) — the ampersand is literal text.
    */
  def decodeAt(s: String, i: Int): (String, Int) = {
    val n = s.length
    if (i + 1 >= n) return ("&", i + 1)
    if (s.charAt(i + 1) == '#') {
      var j = i + 2
      var hex = false
      if (j < n && (s.charAt(j) == 'x' || s.charAt(j) == 'X')) { hex = true; j += 1 }
      val start = j
      var code = 0L
      while (
        j < n && code <= 0x10ffffL && {
          val c = s.charAt(j)
          if (hex) isHex(c) else c >= '0' && c <= '9'
        }
      ) {
        code = code * (if (hex) 16 else 10) + hexVal(s.charAt(j))
        j += 1
      }
      if (j == start) return ("&", i + 1) // no digits: literal
      val end = if (j < n && s.charAt(j) == ';') j + 1 else j
      val cp =
        if (code == 0 || code > 0x10ffff || (code >= 0xd800 && code <= 0xdfff))
          0xfffd
        else code.toInt
      (new String(Character.toChars(cp)), end)
    } else {
      // named: scan the alphanumeric run (the spec's identifier charset)
      var j = i + 1
      while (j < n && j - i <= 32 && isAlnum(s.charAt(j))) j += 1
      val run = s.substring(i + 1, j)
      if (j < n && s.charAt(j) == ';' && named.contains(run)) (named(run), j + 1)
      else {
        // maximal-munch over the legacy (semicolon-optional) names: the
        // longest legacy prefix of the run decodes, the rest stays text —
        // "&copyright" -> "©right", exactly the spec/browser behavior
        var len = math.min(run.length, maxLegacyLen)
        var hit: String = null
        while (len >= 2 && hit == null) {
          val p = run.substring(0, len)
          if (legacy.contains(p)) hit = p
          len -= 1
        }
        if (hit != null) (named(hit), i + 1 + hit.length)
        else ("&", i + 1)
      }
    }
  }

  /** Decode all character references in a string. */
  def decodeAll(s: String): String = {
    val idx = s.indexOf('&')
    if (idx < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    sb.append(s, 0, idx)
    var i = idx
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val (d, ni) = decodeAt(s, i)
        sb.append(d)
        i = ni
      } else {
        sb.append(c)
        i += 1
      }
    }
    sb.toString
  }

  private def isHex(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
  private def hexVal(c: Char): Int =
    if (c <= '9') c - '0' else (c | 0x20) - 'a' + 10
  private def isAlnum(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
}
