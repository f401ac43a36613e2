"""Grok pattern library + apache parse."""

import pytest

from fluent_plugin_kubernetes_metadata_filter_spark.grok import (
    APACHE_COMBINED,
    compile_grok,
    grok_extract,
)
from fluent_plugin_kubernetes_metadata_filter_spark.io import load_table

SF = "/root/testdata/sf0.001"


def test_compile_grok_indices():
    regex, gi = compile_grok("%{IP:ip} %{WORD:verb} %{INT:code}")
    import re

    m = re.search(regex, "10.1.2.3 GET 200")
    assert m.group(gi["ip"]) == "10.1.2.3"
    assert m.group(gi["verb"]) == "GET"
    assert m.group(gi["code"]) == "200"


def test_compile_grok_unknown_pattern():
    with pytest.raises(KeyError):
        compile_grok("%{NOPE:x}")


def test_custom_pattern_and_nameless_ref():
    regex, gi = compile_grok(
        "%{SEV:level}: %{GREEDYDATA:msg}", patterns={"SEV": r"(?:LOW|HIGH)"}
    )
    import re

    m = re.search(regex, "HIGH: disk full")
    assert m.group(gi["level"]) == "HIGH" and m.group(gi["msg"]) == "disk full"


def test_literal_text_is_escaped_verbatim():
    """Regex metacharacters in literal text match literally and do NOT
    create capture groups (which would shift field group numbering)."""
    import re

    expr = "(%{WORD:a}+%{INT:b}) [%{WORD:c}]"
    regex, gi = compile_grok(expr)
    m = re.fullmatch(regex, "(x+42) [ok]")
    assert m is not None
    assert m.group(gi["a"]) == "x"
    assert m.group(gi["b"]) == "42"
    assert m.group(gi["c"]) == "ok"
    # a raw "(x" line must NOT match as a group-opener
    assert re.search(regex, "x+42 ok") is None
    # literal parens contributed zero capture groups
    assert re.compile(regex).groups == 3


def test_grok_apache_on_generated_logs(spark):
    logs = load_table(spark, SF, "logs")
    out = grok_extract(logs, "line", APACHE_COMBINED)
    total = out.count()
    parsed = out.where("grok_matched").count()
    assert 0.85 < parsed / total < 0.99  # ~7% malformed by construction
    row = out.where("grok_matched").first()
    assert row.verb in ("GET", "POST", "PUT", "DELETE")
    assert row.response in ("200", "301", "404", "500")
    assert row.clientip.startswith("10.")
    bad = out.where("NOT grok_matched").first()
    assert bad.verb is None


def test_grok_matched_not_a_first_field_proxy(spark):
    """An expression whose first field participates with an EMPTY match
    (DATA at line start) and null input lines: grok_matched must come
    from the full regex match, not first-field non-nullness."""
    expr = "%{DATA:pre}=%{INT:num}"
    df = spark.createDataFrame(
        [(1, "=5"), (2, "key=42"), (3, "no equals here"), (4, None)],
        "id long, line string",
    )
    cols = ["id", "pre", "num", "grok_matched"]
    a = grok_extract(df, "line", expr).select(*cols)
    rows = {r.id: r for r in a.collect()}
    assert rows[1].grok_matched is True and rows[1].pre == "" and rows[1].num == "5"
    assert rows[2].grok_matched is True and rows[2].num == "42"
    assert rows[3].grok_matched is False and rows[3].num is None
    assert rows[4].grok_matched is None
