"""REP precedence of ``politeness.robots_deny_col`` over parsed rule
rows: longest match wins, Allow wins a length tie, RFC 9309 wildcards
and the trailing ``$`` anchor."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hiispider_spark.operators.politeness import robots_deny_col


@pytest.mark.parametrize(
    "rules,path,denied",
    [
        # classic REP precedence: longest match wins
        ([(False, "/p"), (True, "/p/public")], "/p/public/x", False),
        ([(False, "/p"), (True, "/p/public")], "/p/secret", True),
        # Allow wins a length tie
        ([(False, "/dir"), (True, "/dir")], "/dir/x", False),
        # no matching rule → allowed
        ([(False, "/p")], "/q", False),
        # root disallow vs deeper allow
        ([(False, "/"), (True, "/ok")], "/ok/page", False),
        ([(False, "/"), (True, "/ok")], "/other", True),
        # disallow-only reduces to any-match (oracle-compatible)
        ([(False, "/a"), (False, "/b")], "/b/x", True),
        # RFC 9309 §2.2.3 wildcards: '*' matches any sequence
        ([(False, "/*?sessionid=")], "/page?sessionid=abc", True),
        ([(False, "/*?sessionid=")], "/page?other=1", False),
        ([(False, "/a/*/c")], "/a/b/c/d", True),
        ([(False, "/a/*/c")], "/a/c", False),
        # trailing '$' anchors the end
        ([(False, "/*.pdf$")], "/docs/file.pdf", True),
        ([(False, "/*.pdf$")], "/docs/file.pdfx", False),
        ([(False, "/exact$")], "/exact", True),
        ([(False, "/exact$")], "/exact/sub", False),
        # '$' not at end is literal; regex metachars in rules are literal
        ([(False, "/a$b")], "/a$bc", True),
        ([(False, "/p[1]")], "/p[1]/x", True),
        ([(False, "/p[1]")], "/p1/x", False),
        # wildcard Allow beats shorter literal Disallow (pattern length)
        ([(False, "/dl"), (True, "/dl/*.html$")], "/dl/a.html", False),
        ([(False, "/dl"), (True, "/dl/*.html$")], "/dl/a.zip", True),
    ],
)
def test_deny_precedence(spark, rules, path, denied):
    df = spark.createDataFrame(
        [([{"allow": a, "prefix": p} for a, p in rules], path)],
        "rules array<struct<allow:boolean,prefix:string>>, path string",
    )
    got = df.select(
        robots_deny_col(F.col("rules"), F.col("path")).alias("d")
    ).first()["d"]
    assert got == denied
