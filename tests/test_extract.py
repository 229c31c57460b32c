"""Unit tests for the pure extraction core (SURVEY.md §7 Step 1)."""

from html.parser import HTMLParser

from basic_common_crawl_pipeline_spark.functions.extract import (
    extract_text,
    split_http_response,
)
from basic_common_crawl_pipeline_spark.functions.links import extract_links
from basic_common_crawl_pipeline_spark.functions.urls import (
    canonicalize_url,
    host_of,
    surt,
    url_hash64,
)


def test_extract_basic_blocks():
    html = b"<html><body><h1>Title</h1><p>Hello   world</p><p>Second</p></body></html>"
    assert extract_text(html) == "Title\nHello world\nSecond"


def test_extract_drops_script_style_tables_comments():
    html = (
        b"<body><p>keep</p><script>var x = 'drop';</script>"
        b"<style>p { color: red }</style>"
        b"<table><tr><td>cell</td></tr></table>"
        b"<!-- comment text --><p>also keep</p></body>"
    )
    assert extract_text(html) == "keep\nalso keep"


def test_extract_dedups_repeated_blocks():
    # deduplicate=True pin (rust/src/trafilatura.rs:18)
    html = b"<p>repeat</p><p>unique</p><p>repeat</p>"
    assert extract_text(html) == "repeat\nunique"


def test_extract_lossy_decode_invalid_utf8():
    # \xff is invalid UTF-8 → replacement char, not an error
    # (rust/src/bin/worker.rs:57 from_utf8_lossy)
    html = b"<p>bad \xff byte</p>"
    assert extract_text(html) == "bad � byte"


def test_extract_none_on_empty():
    assert extract_text(b"") is None
    assert extract_text(b"<script>only code</script>") is None
    assert extract_text(None) is None


def test_extract_whitespace_collapse():
    # golang/worker/worker.go:48 strings.Fields join
    html = b"<p>a\n\t  b\r\n c</p>"
    assert extract_text(html) == "a b c"


def test_split_http_response_crlf_and_lf():
    # Rust-canonical semantics (rust/src/bin/worker.rs:57-66)
    assert split_http_response(b"HTTP/1.1 200 OK\r\nX: y\r\n\r\n<html>") == b"<html>"
    assert split_http_response(b"HTTP/1.1 200 OK\nX: y\n\n<html>") == b"<html>"
    assert split_http_response(b"no blank line") is None


def test_canonicalize_url():
    assert canonicalize_url("HTTP://Example.COM:80/a/../b#frag") == "http://example.com/b"
    assert canonicalize_url("https://example.com:443/") == "https://example.com/"
    assert canonicalize_url("https://example.com:8443/x?q=1") == "https://example.com:8443/x?q=1"
    assert canonicalize_url("http://example.com") == "http://example.com/"
    assert canonicalize_url("ftp://example.com/x") is None
    assert canonicalize_url("not a url") is None
    assert canonicalize_url(None) is None


def test_canonicalize_preserves_trailing_slash_and_query():
    assert canonicalize_url("http://a.com/dir/") == "http://a.com/dir/"
    assert canonicalize_url("http://a.com/dir//x") == "http://a.com/dir/x"


def test_host_and_surt():
    assert host_of("http://Sub.Example.com/x") == "sub.example.com"
    assert surt("http://example.com/a?q=1") == "com,example)/a?q=1"
    assert surt("https://a.b.c.org/") == "org,c,b,a)/"


def test_url_hash64_signed_and_stable():
    h = url_hash64("http://example.com/")
    assert -(1 << 63) <= h < (1 << 63)
    assert h == url_hash64("http://example.com/")
    assert h != url_hash64("http://example.com/x")


def test_extract_unclosed_comment_swallows_tail():
    # HTML5 EOF-in-comment: no raw markup may leak into text
    assert extract_text(b"<p>before</p><!-- oops <p>after</p>") == "before"


def test_canonicalize_ipv6_roundtrips():
    canon = canonicalize_url("http://[::1]:8080/x")
    assert canon == "http://[::1]:8080/x"
    assert canonicalize_url(canon) == canon
    assert surt(canon) == "::1:8080)/x"


def test_extract_links_resolution_and_dedup():
    html = (
        b'<a href="/rel">a</a><a href="http://other.com/abs">b</a>'
        b'<a href="/rel">dup</a><a href="mailto:x@y.z">skip</a>'
        b'<a href="#frag">self</a>'
    )
    links = extract_links(html, "http://base.com/dir/page")
    assert links == [
        "http://base.com/rel",
        "http://other.com/abs",
        "http://base.com/dir/page",
    ]


def test_split_http_response_go_variant_off_by_two():
    """variant="go" reproduces golang/worker/worker.go:104-113 exactly:
    always +4, so the LF-only path drops the first two body bytes; the
    CRLF path is identical to canonical."""
    from basic_common_crawl_pipeline_spark.functions.extract import (
        split_http_response,
    )

    crlf = b"HTTP/1.1 200 OK\r\nX: y\r\n\r\n<html>"
    lf = b"HTTP/1.1 200 OK\nX: y\n\n<html>"
    assert split_http_response(crlf, variant="go") == b"<html>"
    assert split_http_response(lf, variant="go") == b"tml>"  # the off-by-2
    assert split_http_response(lf) == b"<html>"              # canonical
    assert split_http_response(b"no blank line", variant="go") is None


def test_extract_text_go_variant_semantics():
    """Go extractor (goquery walk): includes head/title text, keeps
    tables, no block dedup, single whitespace-collapsed line; script and
    style subtrees removed; empty → None."""
    from basic_common_crawl_pipeline_spark.functions.extract import (
        extract_text,
        extract_text_go,
    )

    html = (
        b"<html><head><title>T</title><style>.x{}</style></head>"
        b"<body><p>dup</p><p>dup</p>"
        b"<table><tr><td>cell</td></tr></table>"
        b"<script>var x;</script><p>  a \n b </p></body></html>"
    )
    # goquery's doc.Text() concatenates text NODES with no separator
    # between elements — "T","dup","dup","cell" run together exactly as
    # the Go binary would emit them
    assert extract_text_go(html) == "Tdupdupcell a b"
    # canonical differs on every divergence the references disagree on:
    # block separation, block dedup, table drop
    assert extract_text(html) == "T\ndup\na b"
    assert extract_text_go(b"<p>   </p>") is None
    assert extract_text_go(None) is None


class _LinkCollector(HTMLParser):
    """Independent href reference: the first non-empty ``href`` of each
    ``<a>``. It keeps html.parser's default ``handle_startendtag`` (which
    calls ``handle_starttag``), so ``<a href="/x"/>`` counts."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.hrefs: list[str] = []

    def handle_starttag(self, tag: str, attrs) -> None:  # noqa: ANN001
        if tag == "a":
            for name, value in attrs:
                if name == "href" and value:
                    self.hrefs.append(value)
                    break


def test_fast_scanner_matches_htmlparser_reference():
    """One parse per page: extract_text / extract_links_rich /
    extract_page read one comment-stripped stream, through the strict-
    subset fast scanner or, where it refuses, one html.parser pass that
    collects text and hrefs together. Checked against references forced
    onto html.parser over the ``_COMMENT_RE``-stripped stream: text via
    ``_TextExtractor``'s blocks, links via the independent
    ``_LinkCollector`` above."""
    import random

    from basic_common_crawl_pipeline_spark.functions.extract import (
        _COMMENT_RE,
        _TextExtractor,
        decode_lossy,
    )
    from basic_common_crawl_pipeline_spark.functions.links import (
        _resolve_links,
        extract_links_rich,
        extract_page,
    )

    def stripped(html):
        decoded = decode_lossy(html)
        if decoded is None or not decoded.strip():
            return None
        return _COMMENT_RE.sub("", decoded)

    def ref_text(html):
        decoded = stripped(html)
        if decoded is None:
            return None
        p = _TextExtractor()
        try:
            p.feed(decoded)
            p.close()
        except Exception:
            return None
        p._flush()
        if not p.blocks:
            return None
        seen, kept = set(), []
        for b in p.blocks:
            if b not in seen:
                seen.add(b)
                kept.append(b)
        return "\n".join(kept) or None

    def ref_links(html, base):
        decoded = stripped(html)
        if decoded is None:
            return []
        p = _LinkCollector()
        try:
            p.feed(decoded)
            p.close()
        except Exception:
            return []
        return _resolve_links(p.hrefs, base)

    # html.parser also ends a comment at "-- >"; _COMMENT_RE runs to the
    # first "-->". Text and links both follow _COMMENT_RE.
    dash_space = b'<!-- a -- > <a href="/x">x</a> --><p>t</p>'
    assert extract_text(dash_space) == "t"
    assert extract_links_rich(dash_space, "http://b.test/") == []
    assert extract_page(dash_space, "http://b.test/") == ("t", [])

    cases = [
        b'<html><head><title>d</title></head><body><h1>D</h1><p>s '
        b'x</p><p><a href="http://a.test/x">n</a></p>'
        b"<script>var x=1;</script></body></html>",
        b"<p>keep</p><script>s='<p>no</p>';</script><style>p{}</style>"
        b'<table><tr><td>c<a href="/t">t</a></td></tr></table><p>a</p>',
        b"<!-- comment <a href='/c'>x</a> --><p>after</p>",
        b"<p>before</p><!-- unclosed <p>gone</p>",
        b'<p>a&amp;b &lt;x&gt; &#65;</p><a href="/p?a=1&amp;b=2">q</a>',
        b"<p>bad \xff byte</p>",
        b'<P CLASS="x">up</P><A HREF="/UP">U</A>',
        b"<br/><hr/><p/>text<a href=\"/sc\"/>after",
        # the html.parser route (doctype refused by the fast scanner)
        # must collect a self-closing anchor's href too
        b'<!DOCTYPE html><p>x</p><a href="/sc"/><A HREF=/up>u</A>',
        b"<script><!-- </script><a href=/evil> --></script>",
        b"<p>x<table><p>in</p></table>y</p>",
        b"<p>broken < not a tag</p>",
        b"<p a=b=c>weird</p>",
        b"<p>trailing<",
        b"<!DOCTYPE html><p>doc</p>",
        b"<a href=''>e</a><a href=\"/first\" href=\"/second\">two</a>",
        # an empty or valueless first href: html.parser reads on to /x
        b'<a href="" href="/x">empty-first</a>',
        b'<a href href="/x">valueless-first</a>',
        b"<ScRiPt>x</sCrIpT><p>after</p>",
        b"<style>a</STYLE ><p>s</p>",
        b"<p>a</p><script>never closes",
        b'<a href = "/sp">spaces-around-eq</a>',
        b'<a href="x>y">gt-in-attr</a>',
        b"",
        b"   ",
        None,
    ]
    rnd = random.Random(0)
    frag = [
        "<p>", "</p>", "<a href='/r%d'>", "</a>", "text%d ", "<script>",
        "</script>", "&amp;", "<table>", "</table>", "<!--", "-->",
        "<br/>", "<div>", "</div>", "< ", ">", "&#66;",
        "<!DOCTYPE html>", "-- >", "--!>", "<!-->", "<?pi?>",
        "<![CDATA[x]]>", "<a href='/s%d'/>", "<A HREF=/u%d>", "naïve ",
    ]
    for i in range(800):
        parts = []
        for _ in range(rnd.randint(1, 25)):
            f = rnd.choice(frag)
            parts.append(f % i if "%d" in f else f)
        cases.append("".join(parts).encode())

    base = "http://base.test/dir/page"
    for html in cases:
        want_t, want_l = ref_text(html), ref_links(html, base)
        assert extract_text(html) == want_t, html
        assert extract_links_rich(html, base) == want_l, html
        got_t, got_l = extract_page(html, base)
        assert got_t == want_t and got_l == want_l, html
