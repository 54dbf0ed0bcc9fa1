"""Web-corpus curation operators: URL parsing / canonicalization /
blocklist filtering / URL-level dedup, and line-level quality
filtering — the C4 / RefinedWeb pipeline stages that precede text
dedup in a training-data build.

Everything here is pure Column expressions (regex + array ops,
JVM-side, fused into the scan): URL handling of 100 TB of crawl
metadata is a narrow pass, the blocklist is a broadcast anti-join,
and URL dedup shuffles only (normalized-url, score, id) — never the
document payload. Regexes are kept to the Java/RE2 common subset so
any engine replays them (the registry oracles do).

No reference parity: rajasekarv/vega has no string/URL surface at
all (closures would hand-parse) — this is north-star capability.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_HOST_RE = "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)"
_PATH_RE = "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)"


def url_host(url: Column | str) -> Column:
    """Lower-cased authority (host[:port]) of an absolute URL; ''
    when the scheme/authority shape doesn't match."""
    c = F.col(url) if isinstance(url, str) else url
    return F.lower(F.regexp_extract(c, _HOST_RE, 1))


def url_path(url: Column | str) -> Column:
    """Path component (no query/fragment); '' for bare-host URLs."""
    c = F.col(url) if isinstance(url, str) else url
    return F.regexp_extract(c, _PATH_RE, 1)


def url_registered_domain(url: Column | str) -> Column:
    """Last two dot-labels of the host — the eTLD+1 approximation
    that blocklists key on (a real public-suffix list would broadcast
    the same way; the 2-label rule is the deterministic stand-in)."""
    return F.regexp_extract(url_host(url), r"([^.]+\.[^.]+)$", 1)


def url_normalize(url: Column | str) -> Column:
    """Canonical dedup key: lower-cased host with any leading 'www.'
    stripped + path with trailing slashes stripped; scheme, query and
    fragment dropped (the C4-style 'same page' equivalence)."""
    host = F.regexp_replace(url_host(url), "^www\\.", "")
    path = F.regexp_replace(url_path(url), "/+$", "")
    return F.concat(host, path)


def filter_blocked_domains(df: DataFrame, blocklist: Sequence[str] | DataFrame,
                           url_col: str = "url") -> DataFrame:
    """Drop rows whose registered domain is blocklisted. The
    blocklist (a list or a 1-column DataFrame ``domain``) broadcasts:
    at 100 TB this is a narrow scan + map-side anti-join, the corpus
    never shuffles."""
    if not isinstance(blocklist, DataFrame):
        blocklist = df.sparkSession.createDataFrame(
            [(d,) for d in blocklist], "domain string")
    tagged = df.withColumn("__dom", url_registered_domain(url_col))
    return (tagged.join(F.broadcast(blocklist.select("domain")),
                        tagged["__dom"] == F.col("domain"), "anti")
            .drop("__dom"))


def url_dedup_keep_best(df: DataFrame, url_col: str = "url",
                        score_col: str = "quality",
                        id_col: str = "doc_id") -> DataFrame:
    """One survivor per normalized URL: the highest-``score_col`` row
    (ties to the lowest id). Re-crawls and scheme/www/trailing-slash
    variants collapse. One hash shuffle on the normalized key; the
    rank window is partitioned by that key (never global)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("__nurl").orderBy(F.col(score_col).desc(),
                                             F.col(id_col).asc())
    return (df.withColumn("__nurl", url_normalize(url_col))
            .withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") == 1)
            .drop("__rk"))


# --- line-level quality filtering (RefinedWeb-style) -----------------------

def line_filter(df: DataFrame, text_col: str = "text",
                min_chars: int = 15, min_words: int = 3,
                max_digit_ratio: float = 0.5,
                out_col: str = "clean_text") -> DataFrame:
    """Line-wise document cleaning (the RefinedWeb / MassiveText
    recipe): split on newlines, drop lines that are too short
    (< ``min_chars`` chars or < ``min_words`` whitespace words) or
    digit-dominated (> ``max_digit_ratio``), and reassemble the
    survivors. Adds (``out_col``, n_lines, n_kept, kept_ratio).

    Pure array expressions (split / filter / array_join) — no Python
    per row, no shuffle; line filtering 100 TB is a narrow
    write-through pass fused with the scan."""
    def keep(x: Column) -> Column:
        digits = F.length(x) - F.length(F.regexp_replace(x, "[0-9]", ""))
        return ((F.length(x) >= min_chars)
                & (F.size(F.split(x, " ")) >= min_words)
                & (digits <= F.length(x) * F.lit(max_digit_ratio)))

    lines = F.split(F.col(text_col), "\n")
    kept = F.filter(lines, keep)
    return (df.withColumn("n_lines", F.size(lines))
            .withColumn("n_kept", F.size(kept))
            .withColumn(out_col, F.array_join(kept, "\n"))
            .withColumn("kept_ratio",
                        F.round(F.col("n_kept")
                                / F.greatest(F.col("n_lines"), F.lit(1)), 4)))


def line_dedup_corpus(df: DataFrame, text_col: str = "text",
                      doc_col: str = "doc_id",
                      max_doc_freq: int = 2,
                      out_col: str = "clean_text") -> DataFrame:
    """CORPUS-level bulk line deduplication (the CCNet / RefinedWeb /
    Dolma boilerplate pass): a line that occurs in MORE than
    ``max_doc_freq`` distinct documents is template boilerplate
    (navigation, cookie banners, license footers) and is dropped
    from EVERY document — unlike :func:`line_filter`, which judges
    each line on its own content, this is a global frequency rule.
    Line order within a document is preserved and every input
    document survives (possibly with an empty ``out_col``). Adds
    (``out_col``, n_lines, n_kept, kept_ratio).

    Scale shape (100 TB): two keyed shuffles — a line-keyed
    count-distinct to find hot lines, and a doc-keyed rebuild. The
    hot-line frame is the heavy-hitter tail only (df > threshold),
    tiny relative to the corpus, so the anti-join broadcasts under
    AQE. On a petabyte corpus, group on (xxhash64(line),
    length(line)) instead of the raw string to shrink the exchange;
    the raw-string form here keeps the DuckDB oracle replay exact."""
    lines = df.select(
        F.col(doc_col).alias("__doc"),
        F.posexplode(F.split(F.col(text_col), "\n"))
        .alias("__pos", "__line"))
    hot = (lines.groupBy("__line")
           .agg(F.count_distinct("__doc").alias("__df"))
           .filter(F.col("__df") > max_doc_freq)
           .select("__line"))
    kept = lines.join(hot, "__line", "left_anti")
    reb = (kept.groupBy("__doc")
           .agg(F.count(F.lit(1)).alias("n_kept"),
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(
                            F.struct("__pos", "__line"))),
                        lambda s: s["__line"]),
                    "\n").alias(out_col)))
    n_all = lines.groupBy("__doc").agg(
        F.count(F.lit(1)).alias("n_lines"))
    return (n_all.join(reb, "__doc", "left")
            .select(F.col("__doc").alias(doc_col), "n_lines",
                    F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
                    F.coalesce(out_col, F.lit("")).alias(out_col),
                    F.round(F.coalesce("n_kept", F.lit(0))
                            / F.greatest(F.col("n_lines"), F.lit(1)),
                            4).alias("kept_ratio")))


def strip_html(html: Column | str) -> Column:
    """Extract visible text from an HTML string — the boilerplate-
    strip pass every CommonCrawl-style ingest runs before any quality
    heuristic sees the text. Pure stacked regexp_replace (one codegen
    stage, no Python, no shuffle): drop <script>/<style> subtrees
    (their text is never content), turn block-level closes into
    newlines (so paragraph structure survives for line_filter), strip
    the remaining tags, decode the five predefined HTML entities, and
    collapse runs of whitespace. Patterns are RE2-safe (no
    lookaround) so the DuckDB oracle replays them verbatim.

    This is the deterministic 80% of readability extraction; a
    text-density main-content model can layer on top of the per-line
    output, but the tag strip is what unlocks every downstream text
    operator."""
    c = F.col(html) if isinstance(html, str) else html
    c = F.regexp_replace(c, r"(?is)<script[^>]*>.*?</script>", " ")
    c = F.regexp_replace(c, r"(?is)<style[^>]*>.*?</style>", " ")
    c = F.regexp_replace(
        c, r"(?i)</(p|div|h[1-6]|li|tr|table|blockquote)>", "\n")
    c = F.regexp_replace(c, r"(?i)<br[^>]*>", "\n")
    c = F.regexp_replace(c, r"(?s)<[^>]+>", " ")
    c = F.regexp_replace(c, r"&nbsp;", " ")
    c = F.regexp_replace(c, r"&amp;", "&")
    c = F.regexp_replace(c, r"&lt;", "<")
    c = F.regexp_replace(c, r"&gt;", ">")
    c = F.regexp_replace(c, r"&quot;", "\"")
    c = F.regexp_replace(c, r"[ \t\r\f]+", " ")
    c = F.regexp_replace(c, r" ?\n ?", "\n")
    c = F.regexp_replace(c, r"\n{2,}", "\n")
    return F.trim(c)


def extract_main_text(df: DataFrame, html_col: str,
                      out_col: str = "main_text",
                      round_dp: int = 6) -> DataFrame:
    """HTML → visible text with extraction diagnostics: adds
    ``out_col`` (the stripped text), ``html_chars``, ``text_chars``
    and ``text_density`` (text/html char ratio — the classic
    boilerplate-heavy-page signal; CommonCrawl pipelines drop pages
    whose density is tiny). Narrow write-through pass, fused with
    the scan at any scale."""
    stripped = strip_html(F.col(html_col))
    return (df.withColumn(out_col, stripped)
            .withColumn("html_chars", F.length(F.col(html_col)))
            .withColumn("text_chars", F.length(F.col(out_col)))
            .withColumn("text_density",
                        F.round(F.col("text_chars").cast("double")
                                / F.col("html_chars"), round_dp)))
