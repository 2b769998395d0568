"""HTML canonicalization + text extraction over ``pages.html`` (binary).

The reference canonicalizes every downloaded HTML/XML document with
``BeautifulSoup(content, 'html.parser').prettify()`` before parsing
(``libs/soup.py:113-125``; CSV/JSON pass through verbatim). bs4 is not
available in this environment, so :func:`prettify_html` reimplements the
prettify output format on top of stdlib ``html.parser``:

- every tag and every non-whitespace text node on its own line;
- one-space indentation per nesting depth;
- whitespace-only text dropped; text nodes stripped;
- void elements (br, img, …) self-closing at their depth.

The per-url byte-parity invariant (BASELINE.json:15) is enforced in tests:
``html_to_text(prettify path) == pages.text`` for every synthetic page, and
golden prettify fragments in tests/test_html_extract.py.

Executed via ``mapInPandas``-style pandas UDFs — Arrow batches of binary →
string, no per-row Python UDF calls in the plan.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

VOID_ELEMENTS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)


class _Prettifier(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.lines: list[str] = []
        self.depth = 0

    def _emit(self, text: str) -> None:
        self.lines.append(" " * self.depth + text)

    @staticmethod
    def _fmt_attrs(attrs) -> str:
        return "".join(
            f' {k}="{v}"' if v is not None else f" {k}" for k, v in attrs
        )

    def handle_starttag(self, tag, attrs):
        if tag in VOID_ELEMENTS:
            self._emit(f"<{tag}{self._fmt_attrs(attrs)}/>")
        else:
            self._emit(f"<{tag}{self._fmt_attrs(attrs)}>")
            self.depth += 1

    def handle_startendtag(self, tag, attrs):
        self._emit(f"<{tag}{self._fmt_attrs(attrs)}/>")

    def handle_endtag(self, tag):
        if tag in VOID_ELEMENTS:
            return
        self.depth = max(self.depth - 1, 0)
        self._emit(f"</{tag}>")

    def handle_data(self, data):
        stripped = data.strip()
        if stripped:
            self._emit(stripped)


class _TextCollector(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.chunks: list[str] = []
        self._skip_depth = 0

    def handle_starttag(self, tag, attrs):
        if tag in ("script", "style"):
            self._skip_depth += 1

    def handle_endtag(self, tag):
        if tag in ("script", "style") and self._skip_depth:
            self._skip_depth -= 1

    def handle_data(self, data):
        if self._skip_depth == 0:
            stripped = data.strip()
            if stripped:
                self.chunks.append(stripped)


class _ScriptCollector(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.scripts: list[str] = []
        self._in_script = False

    def handle_starttag(self, tag, attrs):
        self._in_script = tag == "script"

    def handle_endtag(self, tag):
        if tag == "script":
            self._in_script = False

    def handle_data(self, data):
        if self._in_script and data.strip():
            self.scripts.append(data)


def prettify_html(raw: bytes | str) -> str:
    """bs4-prettify-format canonical form (trailing newline included,
    matching prettify())."""
    text = raw.decode("utf-8", errors="replace") if isinstance(raw, (bytes, bytearray)) else raw
    p = _Prettifier()
    p.feed(text)
    p.close()
    return "\n".join(p.lines) + "\n"


def html_to_text(raw: bytes | str, joiner: str = "\n") -> str:
    """Visible text nodes (script/style excluded), stripped, joined."""
    text = raw.decode("utf-8", errors="replace") if isinstance(raw, (bytes, bytearray)) else raw
    c = _TextCollector()
    c.feed(text)
    c.close()
    return joiner.join(c.chunks)


def extract_javascript_variable(raw: bytes | str, varname: str, use_replace: bool = False):
    """First ``var <name> = {...};`` payload found in any <script> tag —
    vectorized analogue of libs/address.py:237-263.

    Faithful to the reference regex ``.*\\s*var\\s*<name>\\s*=\\s*(.*?[}\\]]);``
    (MULTILINE|DOTALL): the payload ends at the FIRST ``};`` or ``];`` after
    the assignment, so later statements in the same <script> are excluded —
    and a ``} ;`` (space before the semicolon) defeats the pattern entirely,
    returning None (reference quirk, preserved)."""
    text = raw.decode("utf-8", errors="replace") if isinstance(raw, (bytes, bytearray)) else raw
    sc = _ScriptCollector()
    sc.feed(text)
    sc.close()
    pattern = re.compile(
        r".*\s*var\s*{}\s*=\s*(.*?[}}\]]);".format(re.escape(varname)),
        re.MULTILINE | re.DOTALL,
    )
    for script in sc.scripts:
        if pattern.match(script) is None:
            continue
        # use_replace (address.py:249): ALL apostrophes → double quotes
        # across the whole matching script BEFORE the payload slice
        if use_replace:
            script = script.replace("'", '"')
        m = pattern.match(script)
        if m is not None:
            return m.group(1)
    return None


@F.pandas_udf(T.StringType())
def html_text_udf(html: pd.Series) -> pd.Series:
    return html.map(html_to_text, na_action="ignore")


@F.pandas_udf(T.StringType())
def js_var_udf(html: pd.Series, varname: pd.Series) -> pd.Series:
    """F11: first ``var <name> = {...};`` payload per page (Arrow-batched)."""
    return pd.Series(
        [
            extract_javascript_variable(h, v) if h is not None else None
            for h, v in zip(html, varname)
        ],
        dtype="object",
    )


def extract_script_array(raw: bytes | str, marker: str):
    """First <script> whose text contains ``marker``, sliced by the
    greedy SINGLE-LINE array regex ``(\\[.*\\]);`` — the
    hu_fire_station.py:102-107 extraction. No DOTALL: the array literal
    must sit on one physical line, and the greedy ``.*`` runs to the last
    ``];`` on that line. No matching script → None (the reference's
    NameError-in-except path yields zero rows)."""
    text = (
        raw.decode("utf-8", errors="replace")
        if isinstance(raw, (bytes, bytearray))
        else raw
    )
    sc = _ScriptCollector()
    sc.feed(text)
    sc.close()
    script = next((s for s in sc.scripts if marker in s), None)
    if script is None:
        return None
    m = re.search(r"(\[.*\]);", script)
    return m.group(1) if m is not None else None


@F.pandas_udf(T.StringType())
def script_array_udf(html: pd.Series, marker: pd.Series) -> pd.Series:
    return pd.Series(
        [
            None if h is None else extract_script_array(h, mk)
            for h, mk in zip(html, marker)
        ],
        dtype="object",
    )


@F.pandas_udf(T.StringType())
def js_var_replace_udf(html: pd.Series, varname: pd.Series) -> pd.Series:
    """F11 with use_replace=True (address.py:249) — the avia feed stores
    the markers payload with single quotes."""
    return pd.Series(
        [
            extract_javascript_variable(h, v, use_replace=True)
            if h is not None
            else None
            for h, v in zip(html, varname)
        ],
        dtype="object",
    )


class _DivCollector(HTMLParser):
    """Collects the text content and attrs of the FIRST <div> whose
    attributes match a predicate (soup.find('div', {...}) analogue)."""

    def __init__(self, pred):
        super().__init__(convert_charrefs=True)
        self._pred = pred
        self._depth = 0
        self._found = False
        self.attrs = None
        self.text_parts: list[str] = []

    def handle_starttag(self, tag, attrs):
        if tag != "div":
            return
        if self._depth > 0:
            self._depth += 1
            return
        if not self._found and self._pred(dict(attrs)):
            self._found = True
            self.attrs = dict(attrs)
            self._depth = 1

    def handle_endtag(self, tag):
        if tag == "div" and self._depth > 0:
            self._depth -= 1

    def handle_data(self, data):
        if self._depth > 0:
            self.text_parts.append(data)


def extract_div_text(raw: bytes | str, div_id: str):
    """Text content of the first ``<div id=...>`` —
    ``soup.find('div', {'id': ...}).text`` (hu_ccc.py:67)."""
    text = (
        raw.decode("utf-8", errors="replace")
        if isinstance(raw, (bytes, bytearray))
        else raw
    )
    c = _DivCollector(lambda a: a.get("id") == div_id)
    c.feed(text)
    c.close()
    return "".join(c.text_parts) if c.attrs is not None else None


def extract_div_attr(
    raw: bytes | str, match_attr: str, match_value: str, want_attr: str
):
    """Attribute value of the first div with ``match_attr == match_value``
    — ``soup.find('div', {attr: value})[want]`` (hu_jysk.py:52, :65)."""
    text = (
        raw.decode("utf-8", errors="replace")
        if isinstance(raw, (bytes, bytearray))
        else raw
    )
    c = _DivCollector(lambda a: a.get(match_attr) == match_value)
    c.feed(text)
    c.close()
    return None if c.attrs is None else c.attrs.get(want_attr)


@F.pandas_udf(T.StringType())
def div_text_udf(html: pd.Series, div_id: pd.Series) -> pd.Series:
    return pd.Series(
        [
            None if h is None else extract_div_text(h, i)
            for h, i in zip(html, div_id)
        ],
        dtype="object",
    )


@F.pandas_udf(T.StringType())
def div_attr_udf(
    html: pd.Series, match_attr: pd.Series, match_value: pd.Series,
    want_attr: pd.Series,
) -> pd.Series:
    return pd.Series(
        [
            None if h is None else extract_div_attr(h, a, v, w)
            for h, a, v, w in zip(html, match_attr, match_value, want_attr)
        ],
        dtype="object",
    )


class _AttrScriptCollector(HTMLParser):
    """Text of the first <script> whose attrs match (soup.find('script',
    {attr: value}) analogue — hu_rossmann.py:60)."""

    def __init__(self, attr, value):
        super().__init__(convert_charrefs=True)
        self._attr, self._value = attr, value
        self._in = False
        self._done = False
        self.parts: list[str] = []

    def handle_starttag(self, tag, attrs):
        if tag == "script" and not self._done and dict(attrs).get(self._attr) == self._value:
            self._in = True

    def handle_endtag(self, tag):
        if tag == "script" and self._in:
            self._in = False
            self._done = True

    def handle_data(self, data):
        if self._in:
            self.parts.append(data)


def extract_script_attr_text(raw: bytes | str, attr: str, value: str):
    text = (
        raw.decode("utf-8", errors="replace")
        if isinstance(raw, (bytes, bytearray))
        else raw
    )
    c = _AttrScriptCollector(attr, value)
    c.feed(text)
    c.close()
    return "".join(c.parts) if c.parts else None


@F.pandas_udf(T.StringType())
def script_attr_text_udf(
    html: pd.Series, attr: pd.Series, value: pd.Series
) -> pd.Series:
    return pd.Series(
        [
            None if h is None else extract_script_attr_text(h, a, v)
            for h, a, v in zip(html, attr, value)
        ],
        dtype="object",
    )


def extract_last_p_text(raw: bytes | str):
    """Text of the LAST <p> in a fragment — ``soup.find_all('p')[-1].text``
    (hu_pingvin_patika.py:78-80); no <p> → None (the reference's
    IndexError leaves the field unset)."""
    text = (
        raw.decode("utf-8", errors="replace")
        if isinstance(raw, (bytes, bytearray))
        else raw
    )

    class _P(HTMLParser):
        def __init__(self):
            super().__init__(convert_charrefs=True)
            self._in = 0
            self.ps: list[list[str]] = []

        def handle_starttag(self, tag, attrs):
            if tag == "p":
                self._in += 1
                self.ps.append([])

        def handle_endtag(self, tag):
            if tag == "p" and self._in:
                self._in -= 1

        def handle_data(self, data):
            if self._in and self.ps:
                self.ps[-1].append(data)

    p = _P()
    p.feed(text)
    p.close()
    return "".join(p.ps[-1]) if p.ps else None


@F.pandas_udf(T.StringType())
def last_p_text_udf(html: pd.Series) -> pd.Series:
    return html.map(extract_last_p_text, na_action="ignore")
