"""Text cleaning chain (C7) + scalar helpers (SURVEY.md §2.10).

Reproduces the reference's loader processor chain
(``loaders.py:17-19``: remove_tags → replace_all_entities →
normalize_space) including the intentional double-encoded-entity hack
(``utils.py:63-86``): BGG encodes 'Ü' as '&amp;#195;&amp;#156;', so the
chain first collapses '&amp;' → '&', then decodes *runs* of numeric
entities as UTF-8 byte sequences — which can corrupt correctly-encoded
text; the reference accepts that (utils.py:80-82 comment) and so do we,
bit for bit.

w3lib (the reference's tag/entity library) is not a dependency here; tag
removal and entity replacement are reimplemented with stdlib re+html.
"""

from __future__ import annotations

import html
import re

from pyspark.sql import functions as F

# utils.py:37-38
REGEX_ENTITIES = re.compile(r"(&#(\d+);)+")
REGEX_SINGLE_ENT = re.compile(r"&#(\d+);")
_REGEX_TAG = re.compile(r"<[^>]*>")
_REGEX_SPACE = re.compile(r"\s+")


def _replace_utf_entities(match: re.Match) -> str:
    """Decode a run of numeric entities as UTF-8 bytes (utils.py:63-70)."""
    try:
        values = [int(v) for v in REGEX_SINGLE_ENT.findall(match.group(0))]
        if all(0 < v < 256 for v in values):
            return bytes(values).decode()
    except Exception:
        pass
    return match.group(0)


def replace_utf_entities(string: str) -> str:
    """utils.py:73-75."""
    return REGEX_ENTITIES.sub(_replace_utf_entities, string)


def replace_all_entities(string: str) -> str:
    """utils.py:78-86 — the '&amp;' collapse hack then full entity decode."""
    collapsed = string.replace("&amp;", "&").replace("&amp;", "&").replace(
        "&amp;", "&"
    )
    return html.unescape(replace_utf_entities(collapsed))


def remove_tags(string: str) -> str:
    """Strip markup tags, keep text content (w3lib remove_tags analog)."""
    return _REGEX_TAG.sub("", string)


def normalize_space(string: str) -> str:
    """XPath normalize-space: trim + collapse internal whitespace."""
    return _REGEX_SPACE.sub(" ", string).strip()


def clean_text_one(value: str | None) -> str | None:
    """Full C7 chain for one value (loaders.py:17-19 order)."""
    if value is None:
        return None
    out = normalize_space(replace_all_entities(remove_tags(value)))
    return out if out else None


# C12 (pipelines.py:146-184 ResolveImagePipeline): dbpedia/wikidata file
# pages → commons Special:Redirect.  regex mirrors pipelines.py:157.
_COMMONS_URL = "https://commons.wikimedia.org/wiki/Special:Redirect/file/"


_COMMONS_FULL_RE = (
    r"^https?://(?:[a-z]{2}\.dbpedia\.org|(?:www\.)?dbpedia\.org"
    r"|(?:www\.)?wikidata\.org)"
    r"/(resource/File:|wiki/Special:EntityData/)(.+)$"
)


def commons_image_url_col(col):
    """Rewrite one URL column: matched file-page paths → commons redirect
    URL (spaces → underscores per pipelines.py:171); others unchanged.
    Pure regex (parse_url rejects URLs containing spaces, which the
    reference's urlparse tolerates — pipelines.py:161).
    """
    file_id = F.regexp_extract(col, _COMMONS_FULL_RE, 2)
    rewritten = F.concat(
        F.lit(_COMMONS_URL), F.regexp_replace(file_id, " ", "_")
    )
    return F.when(file_id != "", rewritten).otherwise(col)
