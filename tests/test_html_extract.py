"""HTML front-end (operators/html_extract.py): strip chain, block features,
jusText-style classification precision/recall on a hand-labeled page, and
the end-to-end main-text extraction."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from timing_explorer_spark.operators.html_extract import (
    classify_blocks,
    extract_main_text,
    html_blocks,
    strip_html,
    synthesize_html,
)

PAGE = (
    "<html><head><title>Fox</title><script>var a = '<p>not text</p>';</script>"
    "<style>.x{color:red}</style></head><body>"
    '<div class="nav"><a href="/">Home</a> <a href="/b">Blog</a> <a href="/c">Contact</a></div>'
    "<h1>The story of a fox</h1>"
    "<!-- hidden comment -->"
    "<p>The quick brown fox jumped over the lazy dog and then ran off to the "
    "forest to find a friend of the family.</p>"
    "<p>Later that day the fox and the dog sat by the river and watched the "
    "water flow down to the sea.</p>"
    "<p>Share this</p>"
    '<div class="sidebar"><a href="/x">Related</a> <a href="/y">Popular</a></div>'
    '<div class="footer">&copy; 2024 Example Corp <a href="/tos">Terms</a> '
    '<a href="/privacy">Privacy</a></div>'
    "</body></html>"
)
# hand labels for the blocks with visible text, in document order:
#   nav link bar -> boilerplate        h1 (short, good neighbors) -> content
#   body p1, p2 -> content             "Share this" (short) -> boilerplate
#   sidebar links -> boilerplate       footer -> boilerplate
# ("Fox" from <title> survives tag-stripping into the head fragment; it is
# short with no good neighbor before the nav, so it must classify bad.)
CONTENT = {"The story of a fox"}
CONTENT_PREFIXES = ("The quick brown fox", "Later that day")


def _page_df(spark):
    return spark.createDataFrame([(1, PAGE)], "doc_id int, html string")


def test_strip_html_chain(spark):
    df = spark.createDataFrame(
        [
            ("<p>a &amp;lt; b</p>", "a &lt; b"),  # &amp; decodes LAST
            ("<script>x<p>y</p></script>z", "z"),
            ("<b>bold</b>&nbsp;&quot;q&quot;&#39;s&gt;", 'bold "q"\'s>'),
            ("<!-- c --><div>ok</div>", "ok"),
            ("a\n\n  b\tc", "a b c"),
        ],
        "html string, want string",
    )
    rows = df.select(strip_html(F.col("html")).alias("got"), "want").collect()
    for r in rows:
        assert r["got"] == r["want"]


def test_html_blocks_features(spark):
    rows = html_blocks(_page_df(spark)).orderBy("block_idx").collect()
    by_text = {r["text"]: r for r in rows}
    nav = by_text["Home Blog Contact"]
    assert nav["link_density"] == pytest.approx(1.0)
    h1 = by_text["The story of a fox"]
    assert h1["link_density"] == 0.0
    assert h1["stopword_density"] == pytest.approx(3 / 5)  # the, of, a
    assert h1["n_words"] == 5
    # script body must NOT appear as a block
    assert not any("not text" in t for t in by_text)


def test_classify_blocks_hand_labels(spark):
    rows = classify_blocks(html_blocks(_page_df(spark))).collect()
    got_content = {r["text"] for r in rows if r["cls"] == "good"}
    want_content = set(CONTENT) | {
        t for t in (r["text"] for r in rows) if t.startswith(CONTENT_PREFIXES)
    }
    # exact agreement with the hand labels = precision and recall both 1.0
    assert got_content == want_content
    boiler = {r["text"] for r in rows if r["cls"] == "bad"}
    assert "Home Blog Contact" in boiler
    assert "Share this" in boiler
    assert any(t.startswith("© 2024") for t in boiler)


def test_extract_main_text_end_to_end(spark):
    out = extract_main_text(_page_df(spark)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_content_blocks"] == 3  # h1 + two paragraphs
    assert r["n_boilerplate_blocks"] >= 4
    lines = r["main_text"].split("\n")
    assert lines[0] == "The story of a fox"  # document order preserved
    assert lines[1].startswith("The quick brown fox")
    assert lines[2].startswith("Later that day")
    assert "Home" not in r["main_text"]
    assert "Terms" not in r["main_text"]


def test_extract_main_text_keeps_textless_docs(spark):
    """ADVICE r6: a page with NO visible text (pure markup/script) must
    still emit its row — main_text='' with zero block counts — instead of
    silently disappearing (downstream inner joins would drop the doc with
    no quarantine signal)."""
    pages = spark.createDataFrame(
        [
            (1, "<html><head><script>var a=1;</script></head><body></body></html>"),
            (2, "<p>real visible content that is long enough to maybe count</p>"),
            (3, ""),  # empty page entirely
        ],
        "doc_id int, html string",
    )
    out = {r["doc_id"]: r for r in extract_main_text(pages).collect()}
    assert set(out) == {1, 2, 3}  # every input doc present
    for d in (1, 3):
        assert out[d]["main_text"] == ""
        assert out[d]["n_content_blocks"] == 0
        assert out[d]["n_boilerplate_blocks"] == 0


def test_synthesized_page_recovers_text(spark):
    docs = spark.createDataFrame(
        [(7, "the cat sat on the mat and the dog sat on the log near a mat")],
        "doc_id int, text string",
    )
    pages = docs.select(
        "doc_id", synthesize_html(F.col("text"), F.col("doc_id")).alias("html")
    )
    clean = pages.select(strip_html(F.col("html")).alias("c")).collect()[0]["c"]
    assert "the cat sat on the mat" in clean
    assert "<" not in clean  # no tags survive (script's '&lt;' died with it)
    assert "var x" not in clean  # script dropped
    assert "All & more" in clean  # entity decoded
    out = extract_main_text(pages).collect()[0]
    assert "the cat sat on the mat" in out["main_text"]
    assert "Home" not in out["main_text"]


def test_canonicalize_url_cases(spark):
    from timing_explorer_spark.operators.html_extract import canonicalize_url

    cases = [
        ("HTTP://Ex.COM:80/p?utm_source=x&b=2&a=1#f", "http://ex.com/p?a=1&b=2"),
        ("https://Ex.com:443/", "https://ex.com/"),
        ("https://ex.com:8443/x", "https://ex.com:8443/x"),  # non-default port kept
        ("http://ex.com", "http://ex.com/"),                 # empty path -> /
        ("http://ex.com/p?fbclid=1&gclid=2&ref=3", "http://ex.com/p"),
        ("http://ex.com/p?z=1&a=2&a=1", "http://ex.com/p?a=1&a=2&z=1"),
        ("http://ex.com/p#only-fragment", "http://ex.com/p"),
        ("HTTPS://A.B/Path/Keep?Y=2&x=1", "https://a.b/Path/Keep?Y=2&x=1"),  # path/value case kept
    ]
    df = spark.createDataFrame(cases, "url string, want string")
    for r in df.select(canonicalize_url(F.col("url")).alias("got"), "want").collect():
        assert r["got"] == r["want"]
    # cross-engine pin: the DuckDB oracle mirror agrees on every case
    import duckdb

    from timing_explorer_spark.operators.html_extract import canonicalize_url_sql

    con = duckdb.connect()
    for url, want in cases:
        (oracle,) = con.execute(
            f"SELECT {canonicalize_url_sql('u')} FROM (SELECT $1 AS u)", [url]
        ).fetchone()
        assert oracle == want, (url, oracle)


def test_canonicalize_url_idempotent_fuzz(spark):
    """Property: canonicalization is idempotent — canon(canon(u)) ==
    canon(u) for URLs drawn from the component grammar."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from timing_explorer_spark.operators.html_extract import canonicalize_url

    host = st.text(alphabet="abcXYZ09.-", min_size=1, max_size=12).filter(
        lambda s: ":" not in s and "/" not in s
    )
    path = st.text(alphabet="abzAZ09/._-", max_size=16)
    key = st.text(alphabet="abz09_", min_size=1, max_size=6)
    val = st.text(alphabet="abz09", max_size=5)
    params = st.lists(st.tuples(key, val), max_size=4)

    @settings(max_examples=30, deadline=None)
    @given(
        scheme=st.sampled_from(["http", "HTTP", "https", "HTTPS"]),
        host=host,
        port=st.sampled_from(["", ":80", ":443", ":8080"]),
        path=path,
        params=params,
        frag=st.sampled_from(["", "#x", "#a=b"]),
    )
    def prop(scheme, host, port, path, params, frag):
        q = "&".join(f"{k}={v}" for k, v in params)
        url = f"{scheme}://{host}{port}/{path}" + (f"?{q}" if q else "") + frag
        df = spark.createDataFrame([(url,)], "url string")
        once = df.select(canonicalize_url(F.col("url")).alias("c")).collect()[0]["c"]
        twice = (
            spark.createDataFrame([(once,)], "url string")
            .select(canonicalize_url(F.col("url")).alias("c"))
            .collect()[0]["c"]
        )
        assert twice == once, (url, once, twice)

    prop()


def test_strip_html_quote_aware_attr_gt(spark):
    """r6's pinned limitation, FIXED in r7: '>' inside a quoted attribute
    value no longer shears the tag (quote-aware _TAG_BODY grammar).

    r7's residual, FIXED in r8 (verdict task #4): an UNTERMINATED quote
    used to pair with a quote in a LATER tag, swallowing every visible
    char in between. Quoted runs now stop at a tag-opening '<' ('<' +
    letter or '/'), so the unterminated quote degrades to
    attribute-end-at-next-'>' and the visible text survives; '<' that
    does not open a tag (spaced comparisons) stays legal inside quotes."""
    rows = [
        ('<a title="a>b">link</a> rest', "link rest"),          # the r6 bug
        ("<a title='x>y'>one</a> two", "one two"),              # single quotes
        ('<div data-x="1" title="p>q">body</div>', "body"),     # mixed attrs
        # unterminated quote, no later quote: attribute ends at next '>'
        ('<a title="oops>tail</a> keep', "tail keep"),
        # the r8 fix: unterminated quote + a LATER quoted tag — the visible
        # text between them used to be swallowed by the spanning quote run
        (
            '<a title="broken>Welcome to the site<div class="x">hi</div>',
            "Welcome to the site hi",
        ),
        # single-quote flavor of the same shear
        (
            "<a title='broken>Reader text<div class='x'>yo</div>",
            "Reader text yo",
        ),
        # '<' NOT opening a tag stays legal inside a terminated quote
        ('<a onclick="if (a < 3) go()">click</a> on', "click on"),
        # r10 FIX (verdict task #6, was the r9 documented shear): an
        # UNSPACED comparison inside a terminated attribute value — '<' +
        # letters + a non-tag-delimiter — now stays inside the quoted run
        # (the tag-like context is CONSUMED, not looked ahead at, so the
        # grammar still runs on RE2)
        ('<a onclick="if(a<b)x()">click</a> on', "click on"),
        ("<a onclick='if(a<b)x()'>tap</a> go", "tap go"),        # SQ flavor
        # ... while a real tag start inside an UNTERMINATED quote still
        # breaks the run (the r8 fix is untouched): tag names are always
        # followed by whitespace / '/' / '>'
        # r11 FIX (verdict task #5, was the r10 pinned leak): a bare simple
        # OPEN tag inside a terminated value is admitted into the quoted
        # run (decided by the char after the letters — a delimiter), so the
        # attribute no longer shears
        ('<a title="use <b> tags">x</a> y', "x y"),
        ("<a title='use <b> tags'>x</a> y", "x y"),              # SQ flavor
        ('<a title="br here <br/> ok">z</a> w', "z w"),          # self-close
        # ... while later tags WITH attributes inside an unterminated quote
        # still break the run (the r8 protection the new unit must not
        # weaken — '<div class=' is letters followed by whitespace+name)
        (
            '<a title="broken>Hello <b>bold</b> text<div class="x">hi</div>',
            "Hello bold text hi",
        ),
        # r11 REMAINING LIMITATION (pin of the accepted trade, see the
        # _DQ_RUN comment): a simple CLOSE tag inside a terminated value
        # still shears — admitting '</'-runs would let an unterminated
        # quote swallow across simple-formatted text (the r8 failure
        # shape). Valid HTML entity-encodes '<' inside attribute values.
        ('<a title="use </b> tags">x</a> y', 'tags">x y'),
    ]
    df = spark.createDataFrame([(h,) for h, _ in rows], "html string")
    got = [r["c"] for r in df.select(strip_html(F.col("html")).alias("c")).collect()]
    for (html, want), g in zip(rows, got):
        assert g == want, (html, g)
    # cross-engine pin: the DuckDB oracle mirror (_strip_sql, RE2) agrees
    # with the Spark chain (Java regex) ON THE TRICKY QUOTE CASES, not just
    # the clean synthesized fixture the driver checks
    import duckdb

    from timing_explorer_spark.plans.text_pipeline import _strip_sql

    con = duckdb.connect()
    for (html, want), g in zip(rows, got):
        (oracle,) = con.execute(
            f"SELECT {_strip_sql('?')}", [html]
        ).fetchone()
        assert oracle == g == want, (html, oracle, g)


def test_langid_nb_separable_accuracy(spark, tmp_path):
    """q_langid_nb on a corpus whose languages actually have distinct
    character statistics: the trained NB must recover the declared label
    for every document (the shared-vocabulary fixture caveat is about the
    DATA, not the classifier)."""
    import random

    from timing_explorer_spark.plans import all_queries

    rng = random.Random(7)
    lex = {
        "en": ["the", "quick", "brown", "fox", "jumps", "with", "their", "house", "water", "light"],
        "de": ["der", "schnelle", "braune", "fuchs", "springt", "durch", "nacht", "wasser", "licht", "strasse"],
        "fr": ["le", "renard", "brun", "rapide", "saute", "avec", "leur", "maison", "eau", "lumiere"],
    }
    rows = []
    i = 0
    for lang, words in lex.items():
        for _ in range(10):
            text = " ".join(rng.choice(words) for _ in range(30))
            rows.append((i, text, lang, "srcX", len(text)))
            i += 1
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = all_queries()["q_langid_nb"].build(spark, str(tmp_path)).collect()
    declared = {r[0]: r[2] for r in rows}
    hits = sum(1 for r in out if r["predicted_lang"] == declared[r["doc_id"]])
    assert len(out) == 30
    assert hits == 30, f"only {hits}/30 correct on a separable corpus"


def test_squeeze_repeats_cases(spark):
    from timing_explorer_spark.functions.text import squeeze_repeats

    cases = [
        ("spam spam spam ok", 1, "spam ok"),
        ("a a a a", 1, "a"),
        ("click here click here click here now", 2, "click here now"),
        ("x y x y x y", 2, "x y"),
        ("a b c a b c", 2, "a b c a b c"),  # period-3 untouched at n=2
        ("a b c a b c", 3, "a b c"),
        ("no repeats at all", 2, "no repeats at all"),
        ("w", 1, "w"),
    ]
    for t, n, want in cases:
        got = (
            spark.createDataFrame([(t,)], "t string")
            .select(squeeze_repeats(F.col("t"), n).alias("g"))
            .collect()[0]["g"]
        )
        assert got == want, (t, n, got)
