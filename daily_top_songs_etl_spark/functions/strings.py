"""String expressions for report rendering.

- ``escape_markdown``: the reference escapes 17 markdown special characters
  char-by-char in Python (``render_templates.py:65-105``). One
  ``regexp_replace`` with a character class does the same set-at-once,
  JVM-side (SURVEY.md §2.9 X7).
- ``embed_spotify_url``: ``/track/`` → ``/embed/track/`` + ``?theme=0``
  (``render_templates.py:165-171``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# render_templates.py:65-105 escapes: ` * _ { } [ ] ( ) # + - . ! | $ ~
_MARKDOWN_SPECIALS = r"([`*_{}\[\]()#+\-.!|$~])"


def escape_markdown(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, _MARKDOWN_SPECIALS, r"\\$1")


def embed_spotify_url(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.concat(
        F.regexp_replace(c, r"/track/", "/embed/track/"), F.lit("?theme=0")
    )
