"""Unit tests for pdf/ocr/textops/url/content/dedup/textstats kernels."""

import json

from extract_ocr_spark.kernels.contentkit import (
    is_waf_challenge,
    looks_like_html,
    sniff_kind,
)
from extract_ocr_spark.kernels.dedupkit import (
    estimate_jaccard,
    exact_jaccard,
    hamming64,
    lsh_bands,
    minhash_signature,
    simhash60,
    simhash_bands,
)
from extract_ocr_spark.kernels.extract import doc_size_bytes, extract_doc
from extract_ocr_spark.kernels.ocrkit import normalize_ocr_text
from extract_ocr_spark.kernels.pdfkit import (
    NO_TEXT_SENTINEL,
    extract_pdf_text,
)
from extract_ocr_spark.kernels.textops import (
    pretty_json,
    pretty_xml,
    truncate_text,
)
from extract_ocr_spark.kernels.textstats import (
    fingerprint,
    lang_id,
    quality_score,
    token_count,
    word_shingles,
)
from extract_ocr_spark.kernels.urlkit import (
    is_asset_intent_url,
    normalize_url,
    safe_filename_piece,
)


# -- pdf ---------------------------------------------------------------------

def test_pdf_pages_joined_and_bad_pages_skipped():
    layout = "page one line\n\fpage two line\f%%ERR broken page\f\f   \f"
    out = extract_pdf_text(layout)
    assert out == "page one line\n\npage two line\n"


def test_pdf_reading_order_reconstruction():
    page = "@20,10:second row\n@10,50:first row right\n@10,5:first row left"
    out = extract_pdf_text(page)
    assert out == "first row left first row right\nsecond row\n"


def test_pdf_empty_gives_sentinel():
    assert extract_pdf_text("") == NO_TEXT_SENTINEL
    assert extract_pdf_text("%%ERR only") == NO_TEXT_SENTINEL


# -- ocr ---------------------------------------------------------------------

def test_ocr_normalization():
    noisy = "quali-\nfied   text\r\n\r\n\r\n\r\nnext    para"
    out = normalize_ocr_text(noisy)
    assert out == "qualified text\n\nnext para\n"


# -- textops -----------------------------------------------------------------

def test_truncate_text():
    text, flag = truncate_text("abc", max_chars=10)
    assert (text, flag) == ("abc", False)
    text, flag = truncate_text("x" * 20 + "\n\n", max_chars=20)
    assert flag is True
    assert text.endswith("[TRUNCATED]\n")
    assert text.startswith("x" * 20)


def test_pretty_json_roundtrip_and_fallback():
    out = pretty_json('{"b":1,"a":[1,2]}')
    assert out == json.dumps(json.loads('{"b":1,"a":[1,2]}'), indent=2, ensure_ascii=False) + "\n"
    assert pretty_json("not json {") == "not json {"


def test_pretty_xml_and_fallback():
    out = pretty_xml("<a><b>x</b></a>")
    assert "<a>" in out and "<b>x</b>" in out
    assert "\n\n" not in out
    assert pretty_xml("<unclosed") == "<unclosed\n"


# -- urls --------------------------------------------------------------------

def test_normalize_url():
    assert normalize_url("HTTPS://Ex.COM/Path?agt=index#frag") == "https://ex.com/Path"
    assert normalize_url("http://a.b/c?q=1#f") == "http://a.b/c?q=1"


def test_asset_intent():
    assert is_asset_intent_url("https://x.com/a/style.CSS")
    assert is_asset_intent_url("https://x.com/d.pdf")
    assert not is_asset_intent_url("https://x.com/page.html")


def test_safe_filename_piece():
    assert safe_filename_piece("Hello,  World!/x") == "Hello-World-x"
    assert safe_filename_piece("   ") == "untitled"


# -- content sniffing ----------------------------------------------------------

def test_sniff_kind_priority():
    assert sniff_kind("u", content_type="text/html", body=b"%PDF-1.4") == "pdf"
    assert sniff_kind("u", content_type=None, body=b"PK\x03\x04zip") == "zip"
    assert sniff_kind("https://x/y.js", content_type="application/json", body=b"{}") == "json"
    assert sniff_kind("https://x/y.js", content_type=None, body=b"x") == "bytes"
    assert sniff_kind("u", content_type="text/html", body=b"<p>") == "html"
    assert sniff_kind("u", content_type=None, body=b"<!doctype html><html>") == "html"
    assert sniff_kind("https://x/a.json", content_type=None, body=b"?") == "json"
    assert sniff_kind("u", content_type=None, body=b"??") == "bytes"


def test_looks_like_html():
    assert looks_like_html(b"  <!DOCTYPE html><html>")
    assert not looks_like_html(b"plain text")


def test_waf_challenge_gates():
    blocked = b"<html><head></head><body>Request blocked</body></html>"
    assert is_waf_challenge(blocked, content_type="text/html")
    thin = b"<html><body>challenge.js edge.sdk.awswaf.com</body></html>"
    assert is_waf_challenge(thin, content_type="text/html")
    rich = thin.replace(b"</body>", b"<a>1</a><a>2</a><a>3</a><a>4</a><a>5</a></body>")
    assert not is_waf_challenge(rich, content_type="text/html")
    assert not is_waf_challenge(thin, content_type="text/html",
                                allow_integration_heuristic=False)
    assert not is_waf_challenge(b"not html", content_type=None)


# -- fused extraction ----------------------------------------------------------

def test_extract_doc_interleave_order():
    spans = [
        {"kind": "media", "text": None, "media_ref": "sha-img-1", "offset": 2},
        {"kind": "html", "text": "<html><body><main><h1>T</h1><p>body</p></main></body></html>",
         "media_ref": None, "offset": 0},
        {"kind": "ocr", "text": "ocr  text", "media_ref": None, "offset": 1},
    ]
    out = extract_doc("d1", spans)
    assert [o["order"] for o in out] == [0, 1, 2]
    assert out[0]["kind"] == "markdown" and "# T" in out[0]["text"]
    assert out[1]["kind"] == "text" and out[1]["text"] == "ocr text\n"
    assert out[2]["kind"] == "media" and out[2]["media_ref"] == "sha-img-1"
    assert out[2]["text"] is None


def test_extract_doc_drops_waf_html_and_renumbers():
    spans = [
        {"kind": "html", "text": "<html><body>You have been blocked</body></html>",
         "media_ref": None, "offset": 0},
        {"kind": "text", "text": "hello", "media_ref": None, "offset": 1},
    ]
    out = extract_doc("d", spans)
    assert len(out) == 1
    assert out[0] == {"kind": "text", "text": "hello\n", "media_ref": None, "order": 0}


def test_extract_doc_shuffle_invariant():
    spans = [
        {"kind": "text", "text": "a", "media_ref": None, "offset": 0},
        {"kind": "json", "text": '{"k":1}', "media_ref": None, "offset": 5},
        {"kind": "xml", "text": "<r><c/></r>", "media_ref": None, "offset": 3},
    ]
    assert extract_doc("d", spans) == extract_doc("d", list(reversed(spans)))


def test_doc_size_bytes():
    assert doc_size_bytes([{"text": "abc"}, {"text": None}, {"text": "de"}]) == 5
    assert doc_size_bytes(None) == 0


# -- dedup kernels ---------------------------------------------------------------

def test_minhash_similarity_estimates():
    a = word_shingles("the quick brown fox jumps over the lazy dog " * 5)
    b = word_shingles("the quick brown fox jumps over the lazy cat " * 5)
    c = word_shingles("completely different words entirely unrelated content here")
    sa, sb, sc = (minhash_signature(s) for s in (a, b, c))
    j_ab, j_ac = estimate_jaccard(sa, sb), estimate_jaccard(sa, sc)
    assert j_ab > 0.3
    assert j_ac < 0.2
    assert abs(j_ab - exact_jaccard(a, b)) < 0.25


def test_minhash_deterministic_and_banding():
    s = word_shingles("some stable text for hashing tests ok")
    assert minhash_signature(s) == minhash_signature(s)
    bands = lsh_bands(minhash_signature(s))
    assert len(bands) == 32
    assert lsh_bands(minhash_signature(s)) == bands


def test_simhash_near_and_far():
    t1 = "the quick brown fox jumps over the lazy dog extra words here".split()
    t2 = "the quick brown fox jumps over the lazy cat extra words here".split()
    t3 = "absolutely nothing in common with anything above at all".split()
    h1, h2, h3 = simhash60(t1), simhash60(t2), simhash60(t3)
    assert hamming64(h1, h2) < hamming64(h1, h3)
    assert len(simhash_bands(h1)) == 10  # C(5,2) Manku two-block keys
    assert simhash60(t1) == h1


def test_simhash_bands_pigeonhole_recall():
    # Any pair within Hamming distance 3 must share >= 1 two-block key.
    import random

    rng = random.Random(7)
    for _ in range(200):
        v = rng.getrandbits(60)
        flips = rng.sample(range(60), rng.randint(0, 3))
        w = v
        for b in flips:
            w ^= 1 << b
        assert set(simhash_bands(v)) & set(simhash_bands(w)), (v, flips)
    # and the keys partition the bits: distance-0 pairs share all 10
    assert simhash_bands(12345) == simhash_bands(12345)


# -- textstats --------------------------------------------------------------------

def test_lang_id():
    assert lang_id("the cat sat on the mat and it was happy") == "en"
    assert lang_id("el perro y el gato en la casa de su madre") == "es"
    assert lang_id("") == "und"
    assert lang_id("zzz qqq xxx") == "und"


def test_token_counts():
    assert token_count("Hello, world!") == 4
    assert token_count("") == 0


def test_quality_score_bounds():
    assert quality_score("") == 0.0
    good = quality_score("The quick brown fox jumps over the lazy dog. " * 30)
    bad = quality_score("!!! ### $$$ %%% ^^^ &&&")
    assert 0.0 <= bad < good <= 1.0


def test_fingerprint_stable_and_normalizing():
    assert fingerprint("Hello  World") == fingerprint("hello world")
    assert fingerprint("a") != fingerprint("b")
    assert fingerprint("") == 0


def test_extract_doc_zip_bytes_stored_not_rendered():
    spans = [
        {"kind": "zip", "text": "PK...", "media_ref": None, "offset": 0},
        {"kind": "bytes", "text": "\x00\x01", "media_ref": None, "offset": 1},
        {"kind": "text", "text": "kept", "media_ref": None, "offset": 2},
    ]
    out = extract_doc("d", spans)
    assert len(out) == 1
    assert out[0] == {"kind": "text", "text": "kept\n", "media_ref": None, "order": 0}


def test_host_allowed_scoping():
    from extract_ocr_spark.kernels.urlkit import host_allowed

    assert host_allowed("https://docs.example.gov/x", ("example.gov",))
    assert host_allowed("https://example.gov/x", ("example.gov",))
    assert not host_allowed("https://evil-example.gov.com/x", ("example.gov",))
    assert not host_allowed("https://other.com/x", ("example.gov",))
    assert host_allowed("https://other.com/x", (), follow_offsite=True)
    assert not host_allowed("not-a-url", ("example.gov",))


def test_rewrite_links_join_parity_and_plan(spark):
    """Corpus-scale explode-join rewriter must agree byte-for-byte with
    the broadcast-map rewriter, and its plan must contain the url
    equi-join with NO driver-side map barrier (the join variant never
    calls collect; the broadcast variant's dict build is the thing it
    replaces at 100x corpus scale)."""
    from extract_ocr_spark.operators.export import (
        rewrite_links_df,
        rewrite_links_join_df,
    )

    pages = spark.createDataFrame(
        [
            (1, "https://ex.org/a/p1.html",
             "go [n](p2.html#x), [abs](https://ex.org/b/p3.html), "
             "[self](#top), [m](mailto:x@y.z), [out](https://other.io/q)"),
            (2, "https://ex.org/b/p3.html", "back [h](../a/p1.html) ![i](p2.html)"),
            (3, "https://ex.org/c/none.html", "no links here"),
            (4, "https://ex.org/d/empty.html", ""),
        ],
        "doc_id long, page_url string, md string",
    )
    url_map = spark.createDataFrame(
        [
            ("https://ex.org/a/p1.html", "a/p1.md"),
            ("https://ex.org/a/p2.html", "a/p2.md"),
            ("https://ex.org/b/p3.html", "b/p3.md"),
            # duplicate url: both variants must deterministically resolve
            # to max(path) instead of crashing (join side) or keeping an
            # arbitrary collected row (broadcast side)
            ("https://ex.org/b/p3.html", "b/p0.md"),
        ],
        "url string, path string",
    )

    want = {r["doc_id"]: r["md_out"]
            for r in rewrite_links_df(pages, url_map).collect()}
    out = rewrite_links_join_df(pages, url_map)
    got = {r["doc_id"]: r["md_out"] for r in out.collect()}
    assert got == want
    assert got[1] == ("go [n](a/p2.md#x), [abs](b/p3.md), [self](a/p1.md#top), "
                      "[m](mailto:x@y.z), [out](https://other.io/q)")  # max: p3>p0
    assert got[3] == "no links here"

    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" in plan and "url" in plan, plan


def test_zipkit_member_pick_and_extract():
    """E15 closed end-to-end: list members of an in-memory archive, apply
    the reference's prefer-index/shortest pick, extract that member's
    HTML through the markdown kernel (fetch_latest_docs.py:59-92)."""
    import io
    import zipfile

    from extract_ocr_spark.kernels.zipkit import (
        pick_single_html,
        read_member,
        zip_members,
        zip_single_html_to_markdown,
    )

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("docs/a-very-long-page-name.html",
                    "<html><body><p>long page</p></body></html>")
        zf.writestr("docs/index.html",
                    "<html><body><h1>Title</h1><p>hello zip</p></body></html>")
        zf.writestr("docs/short.html", "<html><body><p>short</p></body></html>")
        zf.writestr("style.css", "body{}")
        zf.writestr("img/logo.png", "\x89PNG")
    data = buf.getvalue()

    members = zip_members(data)
    assert ("style.css", 6) in members
    names = [n for n, _ in members]
    # "index" beats shorter non-index names
    assert pick_single_html(names) == "docs/index.html"
    assert pick_single_html(["b/aa.html", "a/zzzz.html"]) == "b/aa.html"
    assert pick_single_html(["style.css"]) is None

    html = read_member(data, "docs/index.html").decode()
    assert "hello zip" in html
    md = zip_single_html_to_markdown(data)
    assert "hello zip" in md and "Title" in md


def gen_rewrite_corpus(spark, n_pages: int, links_per_page: int,
                       map_mult: int = 10):
    """Deterministic synthetic rewrite corpus, generated natively (no
    driver data): ``n_pages`` markdown pages each carrying
    ``links_per_page`` absolute links into a url space of
    ``n_pages * map_mult`` mapped targets."""
    from pyspark.sql import functions as F

    m = n_pages * map_mult
    md = F.concat_ws(" ", F.transform(
        F.sequence(F.lit(1), F.lit(links_per_page)),
        lambda k: F.format_string(
            "see [l](https://corpus.example/p/%d.html)",
            (F.col("id") * 7 + k * 1327) % m),
    ))
    pages = spark.range(n_pages).select(
        F.col("id").alias("doc_id"),
        F.format_string("https://corpus.example/p/%d.html",
                        F.col("id")).alias("page_url"),
        md.alias("md"),
    )
    url_map = spark.range(m).select(
        F.format_string("https://corpus.example/p/%d.html",
                        F.col("id")).alias("url"),
        F.format_string("pages/%d.md", F.col("id")).alias("path"),
    )
    return pages, url_map


def test_rewrite_variants_corpus_scale_parity(spark):
    """Generated-corpus parity between the broadcast-map and explode-join
    rewriters (the fixture parity test above covers edge semantics; this
    covers volume): 30k pages x 10 links against a 300k-row map must
    agree on every page byte-for-byte."""
    from pyspark.sql import functions as F

    from extract_ocr_spark.operators.export import (
        rewrite_links_df,
        rewrite_links_join_df,
    )

    pages, url_map = gen_rewrite_corpus(spark, 30_000, 10)
    a = rewrite_links_df(pages, url_map).select("doc_id", "md_out")
    b = rewrite_links_join_df(pages, url_map).select(
        "doc_id", F.col("md_out").alias("md_join"))
    joined = a.join(b, "doc_id", "full")
    mismatches = joined.filter(
        F.col("md_out").isNull() | F.col("md_join").isNull()
        | (F.col("md_out") != F.col("md_join"))).count()
    assert mismatches == 0
    assert a.count() == 30_000
    # and the rewrite actually happened (links resolved to relative .md)
    sample = a.orderBy("doc_id").first()["md_out"]
    assert "pages/" in sample and ".md" in sample, sample


def test_pdfkit_is_coord_matches_regex_piece():
    """r6: the string-op coordinate validator must accept exactly the
    strings the original per-line regex piece -?\\d+(?:\\.\\d+)? accepted."""
    import re

    from extract_ocr_spark.kernels.pdfkit import _is_coord

    piece = re.compile(r"-?\d+(?:\.\d+)?\Z")
    cases = ["12", "-12", "1.5", "-0.25", "", "-", ".5", "1.", "-1.",
             "1e5", "+1", " 1", "1 ", "nan", "inf", "1_000", "12.", "0",
             "-0", "007", "12.000", "٥", "1.٥", "²", "--1", "1.2.3"]
    for s in cases:
        assert _is_coord(s) == bool(piece.match(s)), s


def test_pdfkit_positioned_line_fast_path_parity():
    """The optimized _extract_page line loop must classify lines exactly
    like the original regex did."""
    import re

    from extract_ocr_spark.kernels.pdfkit import _extract_page

    old_re = re.compile(r"^@(-?\d+(?:\.\d+)?),(-?\d+(?:\.\d+)?):(.*)$")

    def old_extract_page(page):
        lines = page.splitlines()
        first_non_blank = next((ln for ln in lines if ln.strip()), "")
        if first_non_blank.startswith("%%ERR"):
            return None
        positioned, plain = [], []
        for i, ln in enumerate(lines):
            m = old_re.match(ln)
            if m:
                positioned.append(
                    (float(m.group(1)), float(m.group(2)), i, m.group(3)))
            elif ln.strip():
                plain.append(ln.rstrip())
        if not positioned:
            return "\n".join(plain).strip()
        positioned.sort(key=lambda t: (t[0], t[1], t[2]))
        rows = []
        for item in positioned:
            if rows and abs(item[0] - rows[-1][0][0]) <= 2.0:
                rows[-1].append(item)
            else:
                rows.append([item])
        out_lines = []
        for row in rows:
            row.sort(key=lambda t: (t[1], t[2]))
            joined = " ".join(c[3].strip() for c in row if c[3].strip())
            if joined:
                out_lines.append(joined)
        return "\n".join([*plain, *out_lines]).strip()

    pages = [
        "@12,40:hello\n@12,200:world\n@24,40:next",
        "@-5,3:neg\n@-5.5,2:frac\nplain line\n  \n@bad,1:x\n@1,2",
        "@1,2:a:b\n@1,2:\n@1,2,3:t\n@1.,2:t\n@1e5,2:t\n@+1,2:t",
        "%%ERR corrupted",
        "   \n\nonly plain\n",
        "@2,1:tie\n@0,1:first\n@4,9:far\n@3.5,1:merge",
        "",
    ]
    for page in pages:
        assert _extract_page(page) == old_extract_page(page), repr(page)
