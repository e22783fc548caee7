"""Parser tests: span-sequence invariant (kind, text, media_ref, order).

Mirrors the reference's parser tests (internal/parser/parser_test.go:8-36)
plus the golden fixture round-trip on the committed transcript.
"""

from __future__ import annotations

import pathlib

from kgc.parsers import (
    content_from_spans,
    parse_html_py,
    parse_markdown_py,
    parse_text_py,
    text_to_spans,
)

FIXTURE = pathlib.Path("/root/reference/test/analyzed_transcription.txt")


class TestTextPy:
    def test_one_paragraph_per_line(self):
        spans = parse_text_py("Ligne 1\nLigne 2\n\nLigne 4\n")
        assert [s["text"] for s in spans] == ["Ligne 1", "Ligne 2", "", "Ligne 4"]
        assert all(s["kind"] == "paragraph" for s in spans)
        assert [s["offset"] for s in spans] == [0, 1, 2, 3]

    def test_no_trailing_phantom_line(self):
        assert len(parse_text_py("a\n")) == 1
        assert len(parse_text_py("a")) == 1
        assert parse_text_py("") == []

    def test_crlf(self):
        assert [s["text"] for s in parse_text_py("a\r\nb\r\n")] == ["a", "b"]


class TestTextSpark:
    def test_matches_python(self, spark):
        texts = ["Ligne 1\nLigne 2\n\nL4\n", "a", "a\n", "", "a\r\nb"]
        df = spark.createDataFrame([(t,) for t in texts], "t string")
        rows = df.select(text_to_spans("t").alias("spans")).collect()
        for t, r in zip(texts, rows):
            got = [s.asDict() for s in r["spans"]]
            assert got == parse_text_py(t), repr(t)

    def test_fixture_roundtrip(self, spark):
        """Span-sequence invariant on the committed reference fixture,
        plus Content reassembly (text.go:22: content = each line + '\\n')."""
        text = FIXTURE.read_text(encoding="utf-8")
        df = spark.createDataFrame([(text,)], "t string").select(
            text_to_spans("t").alias("spans")
        )
        row = df.select(
            "spans", content_from_spans("spans").alias("content")
        ).collect()[0]
        expected = parse_text_py(text)
        got = [s.asDict() for s in row["spans"]]
        assert got == expected
        # Content invariant
        want_content = "".join(s["text"] + "\n" for s in expected)
        assert row["content"] == want_content


class TestMarkdown:
    def test_heading_paragraph_order(self):
        md = "# Titre\n\nUn paragraphe.\n\n## Sous-titre\n\nDeux\nlignes.\n"
        spans = parse_markdown_py(md)
        assert [(s["kind"], s["text"]) for s in spans] == [
            ("heading", "Titre"),
            ("paragraph", "Un paragraphe."),
            ("heading", "Sous-titre"),
            ("paragraph", "Deuxlignes."),  # goldmark Text() concatenates segments
        ]
        assert [s["offset"] for s in spans] == [0, 1, 2, 3]


class TestHTML:
    def test_postorder_and_direct_text(self):
        html = "<html><head></head><body><p>Un <b>gras</b> mot</p></body></html>"
        spans, content = parse_html_py(html)
        kinds = [s["kind"] for s in spans]
        # post-order: b before p, p before body, body before html
        assert kinds.index("b") < kinds.index("p") < kinds.index("body")
        p = next(s for s in spans if s["kind"] == "p")
        assert p["text"] == "Un  mot"  # direct text only, not <b>'s
        assert content == "Un gras mot"

    def test_implied_wrappers(self):
        spans, _ = parse_html_py("<p>x</p>")
        kinds = [s["kind"] for s in spans]
        assert "html" in kinds and "body" in kinds and "head" in kinds


class TestMarkdownBlocks:
    """Parity with the reference's goldmark walk (markdown.go:28-50) on
    the block types round 1 left uncovered: lists, blockquotes, fenced
    code (VERDICT r1 missing #7)."""

    def test_fenced_code_not_emitted(self):
        md = "before\n\n```python\nx = 1\nprint(x)\n```\n\nafter\n"
        spans = parse_markdown_py(md)
        assert [s["text"] for s in spans] == ["before", "after"]
        assert all(s["kind"] == "paragraph" for s in spans)

    def test_unclosed_fence_swallows_rest(self):
        # goldmark treats an unclosed fence as code to EOF
        assert parse_markdown_py("```\ncode\nmore\n") == []

    def test_tilde_fence(self):
        spans = parse_markdown_py("~~~\ncode\n~~~\np\n")
        assert [s["text"] for s in spans] == ["p"]

    def test_indented_code_block_not_emitted(self):
        # goldmark: ≥4-space indent = KindCodeBlock → not in the walk
        md = "# H\n\npara one\n\n    indented code\n    more code\n\nafter\n"
        spans = parse_markdown_py(md)
        assert [(s["kind"], s["text"]) for s in spans] == [
            ("heading", "H"),
            ("paragraph", "para one"),
            ("paragraph", "after"),
        ]

    def test_indented_continuation_stays_in_paragraph(self):
        # an indented line cannot interrupt a paragraph (CommonMark):
        # it's a lazy continuation, not code
        spans = parse_markdown_py("lead line\n    continued\n\nnext\n")
        assert [s["text"] for s in spans] == ["lead linecontinued", "next"]

    def test_tab_indented_code_not_emitted(self):
        spans = parse_markdown_py("\tcode()\n\npara\n")
        assert [s["text"] for s in spans] == ["para"]

    def test_blockquote_inner_paragraph_emitted(self):
        md = "> quoted line one\n> and two\n\nplain\n"
        spans = parse_markdown_py(md)
        assert spans[0]["kind"] == "paragraph"
        assert spans[0]["text"] == "quoted line oneand two"  # segments concat
        assert spans[1]["text"] == "plain"

    def test_blockquote_heading(self):
        spans = parse_markdown_py("> # Quoted Title\n")
        assert spans == [
            {"kind": "heading", "text": "Quoted Title", "media_ref": None, "offset": 0}
        ]

    def test_tight_list_items_dropped(self):
        # goldmark demotes tight-list paragraphs to KindTextBlock, which
        # the reference's walk (only KindHeading/KindParagraph) skips
        md = "intro\n\n- one\n- two\n* three\n\nafter\n"
        spans = parse_markdown_py(md)
        assert [s["text"] for s in spans] == ["intro", "after"]

    def test_loose_list_items_emitted_as_paragraphs(self):
        md = "1. first\n\n2. second\n\ntail\n"
        spans = parse_markdown_py(md)
        assert [s["text"] for s in spans] == ["first", "second", "tail"]
        assert all(s["kind"] == "paragraph" for s in spans)

    def test_blank_between_runs_makes_whole_list_loose(self):
        # CommonMark: a blank line between items makes the LIST loose →
        # every item's paragraph is emitted
        md = "- a\n- b\n\n- c\n\nx\n"
        spans = parse_markdown_py(md)
        assert [s["text"] for s in spans] == ["a", "b", "c", "x"]

    def test_headings_inside_and_around_lists(self):
        md = "# H1\n\n- t1\n- t2\n\nSetext\n------\n\npara\n"
        spans = parse_markdown_py(md)
        assert [(s["kind"], s["text"]) for s in spans] == [
            ("heading", "H1"),
            ("heading", "Setext"),
            ("paragraph", "para"),
        ]


class TestPdfExtract:
    """R8 from raw bytes (kgc.pdf) on the committed jean1.pdf fixture."""

    FIXTURE = "/root/reference/test/jean1.pdf"

    def test_jean1_pages_and_text(self):
        from kgc.pdf import extract_pages

        data = open(self.FIXTURE, "rb").read()
        pages = extract_pages(data)
        assert len(pages) == 26  # /Type/Pages /Count 26
        # zero undecodable glyphs across the whole document
        assert sum(p.count("�") for p in pages) == 0
        joined = "\n".join(pages)
        # Type0/ToUnicode fonts (headings) and WinAnsi fonts (body)
        for needle in [
            "L’EVANGILE SELON SAINT JEAN",   # Cambria Type0, CMap-decoded
            "PROLOGUE",
            "L’ANNONCE DE LA NOUVELLE ÉCONOMIE",  # CMap bfrange array form
            "Samarie",                        # WinAnsi body text
            "témoignage est véridique",       # last page, accented cp1252
        ]:
            assert needle in joined, needle

    def test_poison_pdf_raises_unsupported(self):
        from kgc.pdf import PdfUnsupportedError, extract_pages

        try:
            extract_pages(b"not a pdf at all")
            raise AssertionError("expected PdfUnsupportedError")
        except PdfUnsupportedError:
            pass

    def test_spark_binary_dispatch(self, spark):
        """parse_documents routes pdf rows through the binary column;
        poison bytes yield empty spans (→ parse-stage quarantine)."""
        from kgc.parsers import parse_documents

        data = open(self.FIXTURE, "rb").read()
        df = spark.createDataFrame(
            [("d1", "", "jean1.pdf", bytearray(data)),
             ("d2", "plain text line", "notes.txt", None),
             ("d3", "", "broken.pdf", bytearray(b"%PDF-1.4 garbage"))],
            "doc_id string, text string, source string, payload binary",
        )
        out = parse_documents(df, source_col="source", pdf_col="payload")
        rows = {r["doc_id"]: r["spans"] for r in out.collect()}
        assert len(rows["d1"]) == 26
        assert rows["d1"][0]["kind"] == "page"
        assert rows["d1"][0]["offset"] == 0
        assert "PROLOGUE" in rows["d1"][0]["text"]
        assert [s["text"] for s in rows["d2"]] == ["plain text line"]
        assert rows["d3"] == []  # poison → empty spans, job survives


def _classic_pdf(
    content: bytes = b"BT /F1 12 Tf 72 720 Td (Hello classic xref) Tj ET",
    stream_dict: bytes | None = None,
    font: bytes | None = None,
) -> bytes:
    """Minimal well-formed PDF 1.4 with a CLASSIC xref table (the
    committed jean1.pdf fixture exercises the 1.5+ xref-stream path).
    ``stream_dict`` overrides the content-stream dictionary (filter
    tests), ``font`` overrides the /F1 font object (encoding tests)."""
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: (b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/Resources << /Font << /F1 5 0 R >> >> >>"),
        5: font or b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    }
    sd = stream_dict or b"<< /Length %d >>" % len(content)
    objs[4] = sd + b"\nstream\n" + content + b"\nendstream"
    out = b"%PDF-1.4\n"
    offsets = {}
    for n in sorted(objs):
        offsets[n] = len(out)
        out += b"%d 0 obj\n" % n + objs[n] + b"\nendobj\n"
    xref_off = len(out)
    out += b"xref\n0 6\n0000000000 65535 f \n"
    for n in range(1, 6):
        out += b"%010d 00000 n \n" % offsets[n]
    out += (b"trailer\n<< /Size 6 /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
            % xref_off)
    return out


class TestPdfRobustness:
    """VERDICT r2 #6 — xref fast path + poison-PDF quarantine routing.

    Reference behavior: per-file parse errors are logged and swallowed,
    the batch continues (cmd/cli/main.go:252-254)."""

    FIXTURE = "/root/reference/test/jean1.pdf"

    def _poison_cases(self) -> dict[str, bytes]:
        import re as _re

        data = open(self.FIXTURE, "rb").read()
        classic = _classic_pdf()
        return {
            # header missing entirely
            "not_a_pdf": b"this is not a pdf at all",
            # first Flate stream corrupted -> zlib error surfaced as
            # PdfUnsupportedError("corrupt FlateDecode stream: ...")
            "truncated_stream": data.replace(b"stream\r\n", b"stream\r\nXX", 1),
            # filter outside the supported subset
            "unsupported_filter": classic.replace(
                b"<< /Length", b"<< /Filter /DCTDecode /Length"),
            # non-empty USER password: undecryptable without secrets
            # (empty-password RC4 docs now decrypt — TestPdfEncryption)
            "encrypted": _encrypted_pdf(r=3, user_pw=b"secret"),
            # /Encrypt pointing at a missing object
            "bad_encrypt": classic.replace(
                b"/Root 1 0 R", b"/Root 1 0 R /Encrypt 9 0 R"),
            # structurally valid objects but no document root
            "no_catalog": classic.replace(b"/Type /Catalog", b"/Type /Notalog"),
        }

    def test_xref_fast_path_used_on_fixture(self):
        from kgc.pdf import _Doc

        doc = _Doc(open(self.FIXTURE, "rb").read())
        assert doc.scan_method == "xref"  # 1.5+ xref-stream chain walked
        assert len(doc.pages()) == 26

    def test_regex_fallback_on_broken_startxref(self):
        import re as _re
        from kgc.pdf import _Doc

        data = open(self.FIXTURE, "rb").read()
        broken = _re.sub(rb"startxref\s+\d+", b"startxref\n999999999", data)
        doc = _Doc(broken)
        assert doc.scan_method == "regex"
        assert len(doc.pages()) == 26  # tolerant path still extracts

    def test_classic_xref_table(self):
        from kgc.pdf import _Doc, extract_pages

        pdf = _classic_pdf()
        assert _Doc(pdf).scan_method == "xref"
        assert extract_pages(pdf) == ["Hello classic xref"]

    def test_poison_classes_raise_unsupported(self):
        from kgc.pdf import PdfUnsupportedError, extract_pages

        for name, payload in self._poison_cases().items():
            try:
                extract_pages(payload)
                raise AssertionError(f"{name}: expected PdfUnsupportedError")
            except PdfUnsupportedError:
                pass

    def test_poison_routes_to_quarantine_job_continues(self, spark):
        """Six malformed-PDF classes -> quarantine rows with the real
        reason in detail; the healthy PDF and text doc keep flowing."""
        from kgc.parsers import parse_documents
        from kgc.pipeline import quarantine_table

        good = open(self.FIXTURE, "rb").read()
        rows = [("good_pdf", "", "jean1.pdf", bytearray(good)),
                ("good_txt", "plain text line", "notes.txt", None)]
        rows += [(f"poison_{k}", "", f"{k}.pdf", bytearray(v))
                 for k, v in self._poison_cases().items()]
        df = spark.createDataFrame(
            rows, "doc_id string, text string, source string, payload binary")
        docs = parse_documents(df, source_col="source", pdf_col="payload")
        empty_segs = spark.createDataFrame(
            [], "doc_id string, seg_id int, seg_text string, "
                "n_tokens int, ok boolean")
        quar = {r["doc_id"]: r for r in
                quarantine_table(docs, empty_segs, 512).collect()}
        assert set(quar) == {f"poison_{k}" for k in self._poison_cases()}
        for k in self._poison_cases():
            row = quar[f"poison_{k}"]
            assert row["stage"] == "parse"
            assert row["reason"] == "pdf_unsupported"
            assert "PdfUnsupportedError" in row["detail"]
        # specific reasons survive end-to-end
        assert "not a PDF" in quar["poison_not_a_pdf"]["detail"]
        assert "filter DCTDecode" in quar["poison_unsupported_filter"]["detail"]
        assert "password-protected" in quar["poison_encrypted"]["detail"]
        assert "/Encrypt" in quar["poison_bad_encrypt"]["detail"]
        # healthy rows keep flowing
        healthy = {r["doc_id"]: r["spans"] for r in docs.collect()}
        assert len(healthy["good_pdf"]) == 26
        assert [s["text"] for s in healthy["good_txt"]] == ["plain text line"]


def test_unterminated_hex_string_quarantines(spark):
    """A content stream ending in ``<41`` (a hex string with no closing
    ``>``, one damaged byte) must raise PdfUnsupportedError and land in
    the parse quarantine — the lexer used to jump back to offset 0 and
    re-lex the stream forever."""
    import signal

    import pytest

    from kgc.parsers import parse_documents
    from kgc.pdf import PdfUnsupportedError, extract_pages
    from kgc.pipeline import quarantine_table

    class Hang(BaseException):
        """Not an Exception: the content-stream loop swallows those."""

    def timeout(signum, frame):
        raise Hang("extract_pages did not return within 3 s")

    pdf = _classic_pdf(b"BT /F1 12 Tf 72 720 Td <41")
    old = signal.signal(signal.SIGALRM, timeout)
    signal.alarm(3)
    try:
        with pytest.raises(PdfUnsupportedError, match="unterminated hex string"):
            extract_pages(pdf)
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, old)

    df = spark.createDataFrame(
        [("d1", "", "damaged.pdf", bytearray(pdf))],
        "doc_id string, text string, source string, payload binary")
    docs = parse_documents(df, source_col="source", pdf_col="payload")
    empty_segs = spark.createDataFrame(
        [], "doc_id string, seg_id int, seg_text string, n_tokens int, ok boolean")
    (row,) = quarantine_table(docs, empty_segs, 512).collect()
    assert (row["doc_id"], row["stage"], row["reason"]) == (
        "d1", "parse", "pdf_unsupported")
    assert "unterminated hex string" in row["detail"]


def test_font_entry_not_a_dict_is_unsupported():
    """A page whose /Font resolves to an integer is damage the decoder
    names (PdfUnsupportedError), not an AttributeError from ``.items``."""
    import pytest

    from kgc.pdf import PdfUnsupportedError, extract_pages

    pdf = _classic_pdf(font=b"42").replace(
        b"/Font << /F1 5 0 R >>", b"/Font 5 0 R")
    with pytest.raises(PdfUnsupportedError, match="/Font"):
        extract_pages(pdf)


def test_page_tree_kids_cycle_is_unsupported():
    """A page-tree node whose /Kids points back at its parent is refused
    with PdfUnsupportedError instead of recursing until RecursionError."""
    import pytest

    from kgc.pdf import PdfUnsupportedError, extract_pages

    pdf = _classic_pdf().replace(
        b"/Type /Page /Parent 2 0 R", b"/Type /Pages /Kids [2 0 R] /Parent 2 0 R")
    with pytest.raises(PdfUnsupportedError, match="cycle"):
        extract_pages(pdf)


def _lzw_encode(data: bytes) -> bytes:
    """Test-only PDF LZW encoder, written against the decoder's
    pdfminer-parity width schedule: the decoder widens AFTER its table
    length hits 511/1023/2047, and it lags the encoder by one entry —
    so the emit width derives from the DECODER's table length at read
    time (258 + data codes already emitted - 1)."""
    codes: list[tuple[int, int]] = [(256, 9)]
    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    n_emitted = 0

    def width() -> int:
        dec_len = 258 + max(0, n_emitted - 1)
        if dec_len >= 2047:
            return 12
        if dec_len >= 1023:
            return 11
        if dec_len >= 511:
            return 10
        return 9

    w = b""
    for b in data:
        c = bytes([b])
        if w + c in table:
            w += c
            continue
        codes.append((table[w], width()))
        n_emitted += 1
        table[w + c] = next_code
        next_code += 1
        w = c
    if w:
        codes.append((table[w], width()))
        n_emitted += 1
    codes.append((257, width()))
    buf = nbits = 0
    out = bytearray()
    for code, wd in codes:
        buf = (buf << wd) | code
        nbits += wd
        while nbits >= 8:
            nbits -= 8
            out.append((buf >> nbits) & 0xFF)
    if nbits:
        out.append((buf << (8 - nbits)) & 0xFF)
    return bytes(out)


class TestPdfFilters:
    """VERDICT r2 missing #4 — the four non-Flate byte-stream filters
    (LZW / ASCIIHex / ASCII85 / RunLength), filter chains, and
    /Differences font encodings."""

    CONTENT = b"BT /F1 12 Tf 72 720 Td (filter payload) Tj ET"
    WANT = ["filter payload"]

    def _roundtrip(self, filter_name: bytes, encoded: bytes):
        from kgc.pdf import extract_pages

        sd = b"<< /Filter /%s /Length %d >>" % (filter_name, len(encoded))
        assert extract_pages(_classic_pdf(encoded, stream_dict=sd)) == self.WANT

    def test_ascii_hex(self):
        self._roundtrip(b"ASCIIHexDecode",
                        self.CONTENT.hex().encode("ascii") + b">")

    def test_ascii_hex_whitespace_and_odd_digit(self):
        from kgc.pdf import _ahx_decode

        # whitespace ignored, '>' terminates (bytes after it ignored)
        assert _ahx_decode(b"4 86\n56c6c 6f>garbage") == b"Hello"
        assert _ahx_decode(b"48656c6c6f7>") == b"Hellop"  # odd → pad 0

    def test_ascii85(self):
        import base64

        self._roundtrip(b"ASCII85Decode",
                        base64.a85encode(self.CONTENT) + b"~>")

    def test_ascii85_z_shorthand(self):
        from kgc.pdf import _a85_decode

        assert _a85_decode(b"z~>") == b"\x00\x00\x00\x00"

    def test_runlength(self):
        payload = self.CONTENT
        enc = bytearray()
        for i in range(0, len(payload), 100):
            chunk = payload[i:i + 100]
            enc += bytes([len(chunk) - 1]) + chunk
        enc.append(128)
        self._roundtrip(b"RunLengthDecode", bytes(enc))

    def test_runlength_repeat_form(self):
        from kgc.pdf import _rl_decode

        assert _rl_decode(b"\xfeZ\x02abc\x80") == b"ZZZabc"

    def test_lzw(self):
        self._roundtrip(b"LZWDecode", _lzw_encode(self.CONTENT))

    def test_lzw_width_growth(self):
        """>511 table entries forces the 9→10-bit transition (the
        EarlyChange sync point real word-processor PDFs exercise)."""
        from kgc.pdf import _lzw_decode

        data = bytes((i * 7 + i // 251) % 256 for i in range(6000))
        assert _lzw_decode(_lzw_encode(data)) == data

    def test_lzw_missing_eod_tolerated(self):
        # real encoders sometimes omit EOD; the stream just ends.
        # hand-packed 9-bit codes [CLEAR, 'a', 'b', 'c'], no EOD:
        from kgc.pdf import _lzw_decode

        codes = [256, 97, 98, 99]
        buf = nbits = 0
        out = bytearray()
        for c in codes:
            buf = (buf << 9) | c
            nbits += 9
            while nbits >= 8:
                nbits -= 8
                out.append((buf >> nbits) & 0xFF)
        if nbits:
            out.append((buf << (8 - nbits)) & 0xFF)
        assert _lzw_decode(bytes(out)) == b"abc"

    def test_filter_chain(self):
        """[/ASCIIHexDecode /FlateDecode]: decode hex first, then
        inflate — /Filter array order per spec 7.4.1."""
        import zlib

        from kgc.pdf import extract_pages

        enc = zlib.compress(self.CONTENT).hex().encode("ascii") + b">"
        sd = (b"<< /Filter [/ASCIIHexDecode /FlateDecode] /Length %d >>"
              % len(enc))
        assert extract_pages(_classic_pdf(enc, stream_dict=sd)) == self.WANT

    def test_differences_encoding(self):
        """TeX-style /Differences: code 65 remaps to eacute, 66 to
        emdash; unmapped codes fall through to the base encoding."""
        from kgc.pdf import extract_pages

        font = (b"<< /Type /Font /Subtype /Type1 /BaseFont /XYZ "
                b"/Encoding << /BaseEncoding /WinAnsiEncoding "
                b"/Differences [65 /eacute /emdash 122 /fi] >> >>")
        content = b"BT /F1 12 Tf 72 720 Td (cafAB: z) Tj ET"
        assert extract_pages(_classic_pdf(content, font=font)) == [
            "café—: ﬁ"]

    def test_macroman_encoding(self):
        from kgc.pdf import extract_pages

        font = (b"<< /Type /Font /Subtype /Type1 /BaseFont /XYZ "
                b"/Encoding /MacRomanEncoding >>")
        content = b"BT /F1 12 Tf 72 720 Td (caf\x8e) Tj ET"  # 0x8e = é
        assert extract_pages(_classic_pdf(content, font=font)) == ["café"]

    def test_glyph_name_conventions(self):
        from kgc.pdf import _glyph_to_char

        assert _glyph_to_char("eacute") == "é"
        assert _glyph_to_char("Ccedilla") == "Ç"
        assert _glyph_to_char("uni20AC") == "€"
        assert _glyph_to_char("u1F600") == "\U0001f600"
        assert _glyph_to_char("emdash") == "—"
        assert _glyph_to_char("notarealglyph") is None


# ------------------------------------------------- encrypted-PDF tests ---
# Independent mini-encryptor (own RC4 + own Algorithm 2/3/4/5 code, not
# kgc.pdf's) so decryption is checked against a second implementation
# of PDF 32000 §7.6, not against itself.
_ENC_PAD = bytes([
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E, 0x56,
    0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
])


def _enc_rc4(key: bytes, data: bytes) -> bytes:
    s = bytearray(range(256))
    j = 0
    for i in range(256):
        j = (j + s[i] + key[i % len(key)]) % 256
        s[i], s[j] = s[j], s[i]
    out = bytearray()
    i = j = 0
    for b in data:
        i = (i + 1) % 256
        j = (j + s[i]) % 256
        s[i], s[j] = s[j], s[i]
        out.append(b ^ s[(s[i] + s[j]) % 256])
    return bytes(out)


def _encrypted_pdf(
    content: bytes = b"BT /F1 12 Tf 72 720 Td (Hello encrypted) Tj ET",
    r: int = 3,
    user_pw: bytes = b"",
    owner_pw: bytes = b"owner-secret",
) -> bytes:
    """Classic-xref PDF with RC4 standard security (R2=40-bit, R3=128-bit)."""
    import hashlib

    n = 5 if r == 2 else 16
    perms = -44  # print+copy restricted (typical owner-locked doc)
    doc_id = hashlib.md5(b"kgc-test-id").digest()

    # Algorithm 3: /O from the owner password
    okey = hashlib.md5((owner_pw + _ENC_PAD)[:32]).digest()
    if r >= 3:
        for _ in range(50):
            okey = hashlib.md5(okey).digest()
    okey = okey[:n]
    o_entry = _enc_rc4(okey, (user_pw + _ENC_PAD)[:32])
    if r >= 3:
        for i in range(1, 20):
            o_entry = _enc_rc4(bytes(b ^ i for b in okey), o_entry)

    # Algorithm 2: file key from the user password
    h = hashlib.md5()
    h.update((user_pw + _ENC_PAD)[:32])
    h.update(o_entry)
    h.update((perms & 0xFFFFFFFF).to_bytes(4, "little"))
    h.update(doc_id)
    fkey = h.digest()
    if r >= 3:
        for _ in range(50):
            fkey = hashlib.md5(fkey[:n]).digest()
    fkey = fkey[:n]

    # Algorithm 4/5: /U
    if r == 2:
        u_entry = _enc_rc4(fkey, _ENC_PAD)
    else:
        u_entry = _enc_rc4(fkey, hashlib.md5(_ENC_PAD + doc_id).digest())
        for i in range(1, 20):
            u_entry = _enc_rc4(bytes(b ^ i for b in fkey), u_entry)
        u_entry += b"\x00" * 16  # arbitrary 16-byte pad per spec

    def obj_key(num: int) -> bytes:
        d = hashlib.md5(fkey + num.to_bytes(3, "little") + b"\x00\x00").digest()
        return d[: min(n + 5, 16)]

    enc_content = _enc_rc4(obj_key(4), content)
    hx = lambda b: b"<" + b.hex().encode() + b">"
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: (b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/Resources << /Font << /F1 5 0 R >> >> >>"),
        4: (b"<< /Length %d >>\nstream\n" % len(enc_content))
           + enc_content + b"\nendstream",
        5: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        6: (b"<< /Filter /Standard /V %d /R %d /Length %d /P %d /O %s /U %s >>"
            % (1 if r == 2 else 2, r, n * 8, perms, hx(o_entry), hx(u_entry))),
    }
    out = b"%PDF-1.4\n"
    offsets = {}
    for num in sorted(objs):
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
    xref_off = len(out)
    out += b"xref\n0 7\n0000000000 65535 f \n"
    for num in range(1, 7):
        out += b"%010d 00000 n \n" % offsets[num]
    out += (b"trailer\n<< /Size 7 /Root 1 0 R /Encrypt 6 0 R /ID [%s %s] >>\n"
            b"startxref\n%d\n%%%%EOF\n"
            % (hx(doc_id), hx(doc_id), xref_off))
    return out


class TestPdfEncryption:
    def test_rc4_r3_128bit_roundtrip(self):
        from kgc.pdf import _Doc, extract_pages

        pdf = _encrypted_pdf(r=3)
        assert _Doc(pdf).scan_method == "xref"
        assert extract_pages(pdf) == ["Hello encrypted"]

    def test_rc4_r2_40bit_roundtrip(self):
        from kgc.pdf import extract_pages

        assert extract_pages(_encrypted_pdf(r=2)) == ["Hello encrypted"]

    def test_regex_fallback_still_decrypts(self):
        import re as _re
        from kgc.pdf import _Doc, extract_pages

        broken = _re.sub(rb"startxref\s+\d+", b"startxref\n999999999",
                         _encrypted_pdf(r=3))
        assert _Doc(broken).scan_method == "regex"
        assert extract_pages(broken) == ["Hello encrypted"]

    def test_nonempty_user_password_quarantined(self):
        import pytest
        from kgc.pdf import PdfUnsupportedError, extract_pages

        with pytest.raises(PdfUnsupportedError, match="password-protected"):
            extract_pages(_encrypted_pdf(r=3, user_pw=b"secret"))

    def test_unknown_encryption_version_quarantined(self):
        # V4 (crypt filters / AES-128) and V5 (AES-256) are now
        # supported — TestPdfAes; the undocumented interim V3 is not
        import pytest
        from kgc.pdf import PdfUnsupportedError, extract_pages

        pdf = _encrypted_pdf(r=3).replace(b"/V 2 /R 3", b"/V 3 /R 3")
        with pytest.raises(PdfUnsupportedError, match="unsupported"):
            extract_pages(pdf)


def _r6_hash_indep(pw: bytes, salt: bytes) -> bytes:
    """Independent Algorithm 2.B (own CBC loop + digest switch; block
    cipher is kgc's FIPS-197-validated core)."""
    import hashlib
    from kgc.pdf import _aes_expand_key, _aes_encrypt_block

    def cbc(key, iv, data):
        rks, prev, out = _aes_expand_key(key), iv, bytearray()
        for i in range(0, len(data), 16):
            prev = _aes_encrypt_block(
                rks, bytes(a ^ b for a, b in zip(data[i:i + 16], prev)))
            out += prev
        return bytes(out)

    k = hashlib.sha256(pw + salt).digest()
    rnd = 0
    while True:
        e = cbc(k[:16], k[16:32], (pw + k) * 64)
        k = [hashlib.sha256, hashlib.sha384, hashlib.sha512][sum(e[:16]) % 3](e).digest()
        rnd += 1
        if rnd >= 64 and e[-1] <= rnd - 32:
            return k[:32]


def _image_pdf(extra_img: bytes | None = None) -> bytes:
    """Minimal PDF with two image XObjects: a FlateDecode raw 4x3 RGB
    bitmap and a DCTDecode (JPEG-bytes) one; regex-scan layout (no
    xref table) like real-world broken files."""
    import zlib

    rgb = bytes(range(36))  # 4x3x3 deterministic samples
    flate = zlib.compress(rgb)
    jpeg = extra_img if extra_img is not None else b"\xff\xd8\xff\xe0FAKEJPEG"
    objs = [
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n",
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n",
        b"3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 100 100] "
        b"/Resources << /XObject << /Im1 4 0 R /Im2 5 0 R >> >> >> endobj\n",
        b"4 0 obj << /Subtype /Image /Width 4 /Height 3 /BitsPerComponent 8 "
        b"/ColorSpace /DeviceRGB /Filter /FlateDecode /Length "
        + str(len(flate)).encode() + b" >>\nstream\n" + flate
        + b"\nendstream endobj\n",
        b"5 0 obj << /Subtype /Image /Width 2 /Height 2 /BitsPerComponent 8 "
        b"/ColorSpace /DeviceRGB /Filter /DCTDecode /Length "
        + str(len(jpeg)).encode() + b" >>\nstream\n" + jpeg
        + b"\nendstream endobj\n",
    ]
    return b"%PDF-1.4\n" + b"".join(objs) + b"trailer << /Root 1 0 R >>\n%%EOF"


class TestPdfImages:
    def test_extract_images(self):
        from kgc.pdf import extract_images

        ims = {i["name"]: i for i in extract_images(_image_pdf())}
        assert set(ims) == {"Im1", "Im2"}
        raw = ims["Im1"]
        assert (raw["codec"], raw["width"], raw["height"]) == ("raw", 4, 3)
        assert raw["color_space"] == "DeviceRGB"
        assert raw["payload"] == bytes(range(36))  # Flate undone
        jpg = ims["Im2"]
        assert jpg["codec"] == "DCTDecode"
        assert jpg["payload"].startswith(b"\xff\xd8\xff")  # ready JPEG bytes

    def test_extract_images_undoes_rgb_png_predictors(self):
        """/Predictor 15 over an RGB image: rows of 1 + 3·Columns bytes,
        Sub/Average/Paeth reaching back one 3-byte pixel.  /Predictor 2
        (TIFF) is refused, so that image is skipped."""
        import zlib

        from kgc.pdf import extract_images

        w, h, bpp = 4, 3, 3
        samples = bytes((37 * i + 11) % 256 for i in range(w * h * bpp))
        stride = w * bpp
        prev, filtered = bytes(stride), b""
        for y, ftype in enumerate((1, 3, 4)):  # Sub, Average, Paeth
            line = samples[y * stride : (y + 1) * stride]
            row = bytearray([ftype])
            for i, x in enumerate(line):
                a = line[i - bpp] if i >= bpp else 0
                b, c = prev[i], prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                paeth = min((abs(p - a), 0, a), (abs(p - b), 1, b), (abs(p - c), 2, c))[2]
                row.append((x - {1: a, 3: (a + b) >> 1, 4: paeth}[ftype]) & 0xFF)
            filtered += bytes(row)
            prev = line
        flate = zlib.compress(filtered)
        objs = [
            b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n",
            b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n",
            b"3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 100 100] "
            b"/Resources << /XObject << /Im1 4 0 R /Im2 5 0 R >> >> >> endobj\n",
        ] + [
            b"%d 0 obj << /Subtype /Image /Width 4 /Height 3 /BitsPerComponent 8 "
            b"/ColorSpace /DeviceRGB /Filter /FlateDecode /DecodeParms "
            b"<< /Predictor %d /Colors 3 /Columns 4 >> /Length %d >>\nstream\n"
            % (num, predictor, len(flate)) + flate + b"\nendstream endobj\n"
            for num, predictor in ((4, 15), (5, 2))
        ]
        pdf = b"%PDF-1.4\n" + b"".join(objs) + b"trailer << /Root 1 0 R >>\n%%EOF"
        ims = extract_images(pdf)
        assert [(i["name"], i["codec"]) for i in ims] == [("Im1", "raw")]
        assert ims[0]["payload"] == samples

    def test_extract_images_not_pdf(self):
        import pytest as _pytest

        from kgc.pdf import PdfUnsupportedError, extract_images

        with _pytest.raises(PdfUnsupportedError):
            extract_images(b"plain text, no pdf here")


def _aes_pdf(content: bytes = b"BT /F1 12 Tf 72 720 Td (Hello AES) Tj ET",
             v: int = 4, user_pw: bytes = b"") -> bytes:
    """V4/AESV2 (AES-128, MD5-derived file key) or V5/R6 (AES-256,
    Algorithm 2.B) encrypted classic-xref PDF."""
    import hashlib
    from kgc.pdf import _aes_expand_key, _aes_encrypt_block

    def cbc_pad(key, data):
        iv = hashlib.md5(b"kgc-test-iv" + key).digest()
        pad = 16 - len(data) % 16
        data += bytes([pad]) * pad
        rks, prev, out = _aes_expand_key(key), iv, bytearray(iv)
        for i in range(0, len(data), 16):
            prev = _aes_encrypt_block(
                rks, bytes(a ^ b for a, b in zip(data[i:i + 16], prev)))
            out += prev
        return bytes(out)

    perms = -44
    doc_id = hashlib.md5(b"kgc-aes-id").digest()
    hx = lambda b: b"<" + b.hex().encode() + b">"
    if v == 4:
        n = 16
        okey = hashlib.md5((b"owner-secret" + _ENC_PAD)[:32]).digest()
        for _ in range(50):
            okey = hashlib.md5(okey).digest()
        o_entry = _enc_rc4(okey[:n], (user_pw + _ENC_PAD)[:32])
        for i in range(1, 20):
            o_entry = _enc_rc4(bytes(b ^ i for b in okey[:n]), o_entry)
        h = hashlib.md5()
        h.update((user_pw + _ENC_PAD)[:32])
        h.update(o_entry)
        h.update((perms & 0xFFFFFFFF).to_bytes(4, "little"))
        h.update(doc_id)
        fkey = h.digest()
        for _ in range(50):
            fkey = hashlib.md5(fkey[:n]).digest()
        fkey = fkey[:n]
        u_entry = _enc_rc4(fkey, hashlib.md5(_ENC_PAD + doc_id).digest())
        for i in range(1, 20):
            u_entry = _enc_rc4(bytes(b ^ i for b in fkey), u_entry)
        u_entry += b"\x00" * 16
        okey4 = hashlib.md5(
            fkey + (4).to_bytes(3, "little") + b"\x00\x00" + b"sAlT").digest()
        enc_content = cbc_pad(okey4, content)
        enc_dict = (
            b"<< /Filter /Standard /V 4 /R 4 /Length 128 /P %d /O %s /U %s "
            b"/CF << /StdCF << /CFM /AESV2 /Length 16 >> >> "
            b"/StmF /StdCF /StrF /StdCF >>"
            % (perms, hx(o_entry), hx(u_entry)))
    else:  # V5 / R6
        fkey = hashlib.sha256(b"kgc-aes256-file-key").digest()
        vsalt, ksalt = b"VSALTvs1", b"KSALTks1"
        u_entry = _r6_hash_indep(user_pw, vsalt) + vsalt + ksalt
        ikey = _r6_hash_indep(user_pw, ksalt)
        # UE = CBC-encrypt(ikey, iv=0, fkey), no padding
        rks, prev, ue = _aes_expand_key(ikey), b"\x00" * 16, bytearray()
        for i in range(0, 32, 16):
            prev = _aes_encrypt_block(
                rks, bytes(a ^ b for a, b in zip(fkey[i:i + 16], prev)))
            ue += prev
        enc_content = cbc_pad(fkey, content)
        enc_dict = (
            b"<< /Filter /Standard /V 5 /R 6 /Length 256 /P %d "
            b"/O %s /OE %s /U %s /UE %s "
            b"/CF << /StdCF << /CFM /AESV3 /Length 32 >> >> /StmF /StdCF >>"
            % (perms, hx(b"\x01" * 48), hx(b"\x02" * 32),
               hx(u_entry), hx(bytes(ue))))
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: (b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/Resources << /Font << /F1 5 0 R >> >> >>"),
        4: (b"<< /Length %d >>\nstream\n" % len(enc_content))
           + enc_content + b"\nendstream",
        5: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        6: enc_dict,
    }
    out = b"%PDF-1.6\n"
    offsets = {}
    for num in sorted(objs):
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
    xref_off = len(out)
    out += b"xref\n0 7\n0000000000 65535 f \n"
    for num in range(1, 7):
        out += b"%010d 00000 n \n" % offsets[num]
    out += (b"trailer\n<< /Size 7 /Root 1 0 R /Encrypt 6 0 R /ID [%s %s] >>\n"
            b"startxref\n%d\n%%%%EOF\n" % (hx(doc_id), hx(doc_id), xref_off))
    return out


class TestPdfAes:
    def test_aes_core_fips197(self):
        """FIPS-197 appendix C known-answer vectors, both directions."""
        from kgc.pdf import _aes_decrypt_block, _aes_encrypt_block, _aes_expand_key

        pt = bytes.fromhex("00112233445566778899aabbccddeeff")
        for key, ct_hex in [
            (bytes(range(16)), "69c4e0d86a7b0430d8cdb78070b4c55a"),
            (bytes(range(32)), "8ea2b7ca516745bfeafc49904b496089"),
        ]:
            rks = _aes_expand_key(key)
            assert _aes_encrypt_block(rks, pt).hex() == ct_hex
            assert _aes_decrypt_block(rks, bytes.fromhex(ct_hex)) == pt

    def test_aesv2_roundtrip(self):
        from kgc.pdf import extract_pages

        assert extract_pages(_aes_pdf(v=4)) == ["Hello AES"]

    def test_aes256_r6_roundtrip(self):
        from kgc.pdf import extract_pages

        assert extract_pages(_aes_pdf(v=5)) == ["Hello AES"]

    def test_aes256_r6_wrong_password(self):
        import pytest
        from kgc.pdf import PdfUnsupportedError, extract_pages

        with pytest.raises(PdfUnsupportedError, match="password-protected"):
            extract_pages(_aes_pdf(v=5, user_pw=b"secret"))

    def test_aesv2_wrong_password(self):
        import pytest
        from kgc.pdf import PdfUnsupportedError, extract_pages

        with pytest.raises(PdfUnsupportedError, match="password-protected"):
            extract_pages(_aes_pdf(v=4, user_pw=b"secret"))

    def test_aes_bad_padding_quarantines(self):
        """A block-aligned but corrupt CBC stream must raise (→ quarantine),
        not silently drop up to 16 bytes of tail text (ADVICE r3)."""
        import pytest
        from kgc.pdf import (PdfUnsupportedError, _aes_cbc_decrypt,
                             _aes_expand_key, _aes_encrypt_block)

        key = bytes(range(16))
        iv = bytes(16)
        # plaintext whose last byte is 3 but the two bytes before are not
        # 3 — invalid PKCS#7 that the old range-only check stripped
        pt = b"A" * 13 + b"\x01\x02\x03"
        rks = _aes_expand_key(key)
        ct = iv + _aes_encrypt_block(rks, bytes(a ^ b for a, b in zip(pt, iv)))
        with pytest.raises(PdfUnsupportedError, match="bad AES padding"):
            _aes_cbc_decrypt(key, ct)
        # valid padding still round-trips
        pt2 = b"B" * 12 + b"\x04\x04\x04\x04"
        ct2 = iv + _aes_encrypt_block(rks, bytes(a ^ b for a, b in zip(pt2, iv)))
        assert _aes_cbc_decrypt(key, ct2) == b"B" * 12
        # unpad=False path unchanged
        assert _aes_cbc_decrypt(key, ct, unpad=False) == pt
