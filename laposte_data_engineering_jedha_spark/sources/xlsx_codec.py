"""Minimal pure-stdlib XLSX codec for the 6-column deliveries contract
(reference sources/readers.py:52-55 / writers.py:61-70).

openpyxl/xlsxwriter are absent in this environment, and an XLSX file is
just a zip of OOXML parts — so the writer (`write_xlsx_fragments`) emits
the five mandatory parts (content types, package rels, workbook, workbook
rels, one worksheet) and streams row fragments into the worksheet entry
through `zipfile.open(mode="w")`, preserving the reference's
constant-memory property (xlsxwriter `constant_memory` mode). The reader
(`read_xlsx_pandas`) takes a vectorized path for sheets this writer
produced and otherwise tokenizes the worksheet XML and resolves shared
strings, so it also reads workbooks produced by openpyxl / xlsxwriter /
Excel for the supported cell types.

Cell mapping (`rows_xml_fragment`, per pandas column dtype; the header
row goes through it too):
- int/float      -> numeric cell (`<v>`), repr round-trips doubles exactly
- bool           -> boolean cell (t="b")
- datetime64     -> ISO-8601 inline string; the pipeline's timestamp-cast
                    contract (readers.cast_timestamp_contract, reference
                    core/extract.py:77-80) re-parses on read, exactly like
                    the CSV round-trip
- anything else  -> its str() as an inline string (t="inlineStr"; no
                    sharedStrings table — one pass, constant memory)
- null           -> empty cell `<c/>`

On read, numeric text without '.'/'e' parses to int, otherwise float;
t="s" cells resolve through sharedStrings.xml; t="b" to bool.
"""

from __future__ import annotations

import re
import zipfile
from collections.abc import Iterable, Iterator
from xml.etree import ElementTree as ET
from xml.sax.saxutils import escape

_MAIN_NS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_INT_RE = re.compile(r"-?\d+")

_CONTENT_TYPES = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
<Default Extension="xml" ContentType="application/xml"/>
<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
</Types>"""

_PACKAGE_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
</Relationships>"""

_WORKBOOK_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
</Relationships>"""


_WORKBOOK = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    f'<workbook xmlns="{_MAIN_NS}" '
    'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
    '<sheets><sheet name="deliveries" sheetId="1" r:id="rId1"/></sheets>'
    "</workbook>"
)


def rows_xml_fragment(pdf) -> str:
    """Vectorized sheetData fragment for a pandas batch: one <row> per
    DataFrame row, cells typed per column dtype. Cells and rows carry no
    `r` refs (optional per OOXML; consumers assign sequentially), so
    fragments are position-independent: `XlsxWriter` builds one per
    Arrow record batch and streams it through `write_xlsx_fragments`.
    Null cells emit <c/> to keep positional alignment."""
    import pandas as pd

    parts = []
    for c in pdf.columns:
        s = pdf[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            # datetime64 astype(str) is the vectorized "YYYY-MM-DD HH:MM:SS
            # [.ffffff]" form (never needs XML escaping)
            frag = '<c t="inlineStr"><is><t>' + s.astype(str) + "</t></is></c>"
        elif pd.api.types.is_bool_dtype(s):
            frag = '<c t="b"><v>' + s.astype(int).astype(str) + "</v></c>"
        elif pd.api.types.is_integer_dtype(s):
            frag = "<c><v>" + s.astype(str) + "</v></c>"
        elif pd.api.types.is_float_dtype(s):
            # numpy float64 str == shortest round-trip repr — exact re-parse
            frag = "<c><v>" + s.astype(str) + "</v></c>"
        else:
            txt = s.astype(str)
            needs = txt.str.contains("[&<>]", regex=True)
            if needs.any():  # escape only rows that need it
                txt = txt.where(~needs, txt[needs].map(escape))
            frag = '<c t="inlineStr"><is><t>' + txt + "</t></is></c>"
        parts.append(frag.where(s.notna(), "<c/>"))
    if not parts:
        return ""
    rows = "<row>" + parts[0]
    for p in parts[1:]:
        rows = rows + p
    return "".join((rows + "</row>").tolist())


def write_xlsx_fragments(path: str, columns: list[str], fragments: Iterable[str]) -> None:
    """Assemble a workbook from pre-built sheetData row fragments (see
    rows_xml_fragment): header row first, then each fragment streamed
    through the zip entry.

    Entries are STORED: OOXML only requires a zip container (stored
    entries open fine in Excel/openpyxl), and skipping deflate halves the
    driver-side write (3.3 s -> 1.7 s at 150k rows) at ~10x the file
    size. Every entry carries zip's fixed default time (1980-01-01), so
    the file's bytes depend only on its cells."""
    import pandas as pd

    with zipfile.ZipFile(path, "w") as zf:
        for name, data in [
            ("[Content_Types].xml", _CONTENT_TYPES),
            ("_rels/.rels", _PACKAGE_RELS),
            ("xl/workbook.xml", _WORKBOOK),
            ("xl/_rels/workbook.xml.rels", _WORKBOOK_RELS),
        ]:
            zf.writestr(zipfile.ZipInfo(name), data)
        # force_zip64: streamed-entry size is unknown; >4 GiB worksheets
        # (10M-row stored XML) otherwise fail at entry close
        with zf.open("xl/worksheets/sheet1.xml", "w", force_zip64=True) as ws:
            ws.write(
                b'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                b'<worksheet xmlns="' + _MAIN_NS.encode() + b'"><sheetData>'
            )
            ws.write(rows_xml_fragment(pd.DataFrame([list(columns)])).encode("utf-8"))
            for fragment in fragments:
                ws.write(fragment.encode("utf-8"))
            ws.write(b"</sheetData></worksheet>")


def _shared_strings(zf: zipfile.ZipFile) -> list[str]:
    try:
        data = zf.read("xl/sharedStrings.xml")
    except KeyError:
        return []
    root = ET.fromstring(data)
    out = []
    for si in root.findall(f"{{{_MAIN_NS}}}si"):
        out.append("".join(t.text or "" for t in si.iter(f"{{{_MAIN_NS}}}t")))
    return out


def _parse_number(text: str):
    return int(text) if _INT_RE.fullmatch(text) else float(text)


def _col_index(ref: str, default: int) -> int:
    idx = 0
    for ch in ref:
        if not ch.isalpha():
            break
        idx = idx * 26 + (ord(ch.upper()) - ord("A") + 1)
    return idx - 1 if idx else default


# Fast-path sheet tokenizer: ONE compiled-regex pass over the whole
# worksheet emitting row-starts and cells (self-closing <c .../> OR
# <c ...>inner</c>) in document order. A single C-level finditer plus
# string-find attribute extraction is ~4x faster than per-row splitting
# with per-cell attribute findall, which in turn was ~5x faster than
# ElementTree iteration — the read side is a single-workbook driver
# bridge, so parse speed IS the read throughput (measured 7.0 s -> 1.7 s
# at 150k x 6).
_SHEET_TOKEN_RE = re.compile(r"<row\b[^>]*>|<c\b([^>]*?)(?:/>|>(.*?)</c>)", re.S)


def _find_attr(attrs: str, name: str) -> str | None:
    """Value of attribute `name` via string find. `attrs` is the attribute
    region of one tag (always space-separated, values quoted), so the
    space-prefixed needle cannot match inside another attribute's name."""
    at = attrs.find(f' {name}="')
    if at < 0:
        return None
    start = at + len(name) + 3
    return attrs[start : attrs.index('"', start)]


def _unescape(text: str) -> str:
    if "&" not in text:
        return text
    import html

    return html.unescape(text)


def _inner_text(inner: str, open_tag: str, close_tag: str) -> str | None:
    start = inner.find(open_tag)
    if start < 0:
        return None
    start = inner.find(">", start) + 1
    end = inner.find(close_tag, start)
    return inner[start:end]


def _fast_cell_value(attrs: str, inner: str, shared: list[str]):
    kind = _find_attr(attrs, "t") or "n"
    if kind == "inlineStr":
        text = _inner_text(inner, "<t", "</t>")
        return _unescape(text) if text is not None else ""
    v = _inner_text(inner, "<v", "</v>")
    if v is None:
        return None
    if kind == "s":
        return shared[int(v)]
    if kind == "b":
        return v == "1"
    if kind == "str":
        return _unescape(v)
    return _parse_number(_unescape(v))


# Vectorized fast path for sheets THIS codec's fragment writer produced:
# no r refs, every row exactly ncols cells, nulls as <c/>. One C-level
# findall over the whole body, then column-wise pandas conversion — ~4x
# faster than the general tokenizer (and the typed columns skip object-
# dtype inference in the Arrow createDataFrame afterwards). Any structural
# surprise (r refs, shared strings, styles, str-formula cells, ragged
# rows) fails the cell-count check and falls back to the general parser.
_UNIFORM_CELL_RE = re.compile(
    r"<c(/)>"
    r"|<c><v>([^<]*)</v></c>"
    r'|<c t="inlineStr"><is><t>([^<]*)</t></is></c>'
    r'|<c t="b"><v>([01])</v></c>'
)


def _fast_pandas(body: str, header: list[str]):
    import pandas as pd

    ncols = len(header)
    n_rows = body.count("<row>")
    if n_rows == 0 or ncols == 0:
        return None
    cells = _UNIFORM_CELL_RE.findall(body)
    if len(cells) != n_rows * ncols:
        return None
    cdf = pd.DataFrame(cells, columns=["nul", "num", "txt", "b"])
    out = {}
    for j, name in enumerate(header):
        sub = cdf.iloc[j::ncols].reset_index(drop=True)
        isnull = sub["nul"].eq("/")
        has_b = sub["b"].ne("").any()
        has_num = sub["num"].ne("").any()
        has_txt = sub["txt"].ne("").any()
        if has_b + has_num + has_txt > 1:
            return None  # mixed-type column — general parser decides per cell
        try:
            if has_b:
                col = sub["b"].eq("1").astype(object)
            elif has_num:
                s = sub["num"]
                if isnull.any():
                    col = s.where(~isnull, None).map(
                        lambda v: None if v is None else _parse_number(v)
                    )
                elif s.str.fullmatch(r"-?\d+").all():
                    col = s.astype("int64")
                else:
                    # NOT pd.to_numeric: its fast parser is lossy in the last
                    # ulp (1.1400000000000001 -> 1.14); astype goes through
                    # C strtod, which round-trips repr output exactly
                    col = s.astype("float64")
            else:
                col = sub["txt"]
                amp = col.str.contains("&", regex=False)
                if amp.any():
                    col = col.where(~amp, col[amp].map(_unescape))
                col = col.astype(object)
        except (ValueError, TypeError):
            return None
        if isnull.any() and not has_num:
            col = col.where(~isnull, None)
        out[name] = col
    return pd.DataFrame(out)


def read_xlsx_pandas(path: str):
    """Read the first worksheet into a pandas DataFrame — the driver-bridge
    entry point (sources/readers.py XlsxReader). Takes the vectorized fast
    path for workbooks this codec wrote, falls back to the general
    tokenizer for openpyxl/xlsxwriter/Excel output."""
    import pandas as pd

    with zipfile.ZipFile(path) as zf:
        shared = _shared_strings(zf)
        data = zf.read("xl/worksheets/sheet1.xml").decode("utf-8")
    if not shared:
        first_row_end = data.find("</row>")
        if first_row_end >= 0:
            pdf = _fast_pandas(data[first_row_end:], _header_of(data))
            if pdf is not None:
                return pdf
    columns, rows = _parse_rows(data, shared)
    return pd.DataFrame(list(rows), columns=columns)


def _header_of(data: str) -> list[str]:
    header_xml = data[: data.find("</row>")]
    out: list = []
    for m in _SHEET_TOKEN_RE.finditer(header_xml):
        if m.group(1) is None:
            out = []
            continue
        out.append(_fast_cell_value(m.group(1), m.group(2) or "", []))
    return [str(c) for c in out]


def _parse_rows(data: str, shared: list[str]) -> tuple[list[str], Iterator[list]]:
    def rows() -> Iterator[list]:
        out: list | None = None
        for m in _SHEET_TOKEN_RE.finditer(data):
            attrs = m.group(1)
            if attrs is None:  # <row ...> token
                if out is not None:
                    yield out
                out = []
                continue
            if out is None:  # cell outside any row — malformed, skip
                continue
            ref = _find_attr(attrs, "r")
            col = _col_index(ref, len(out)) if ref is not None else len(out)
            while len(out) <= col:
                out.append(None)
            out[col] = _fast_cell_value(attrs, m.group(2) or "", shared)
        if out is not None:
            yield out

    it = rows()
    try:
        header = [str(c) for c in next(it)]
    except StopIteration:
        return [], iter(())

    def padded() -> Iterator[list]:
        for row in it:
            row += [None] * (len(header) - len(row))
            yield row[: len(header)]

    return header, padded()
