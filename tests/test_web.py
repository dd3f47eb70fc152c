"""Web-corpus curation ops (operators/web.py): unicode normalization
forms, URL decomposition, base-domain heuristic, and the exactness of
the salted two-phase per-host cap against the single-window form."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fluent_bit_spark.operators.web import (
    base_domain, cap_per_host, normalize_text, url_parts,
)


def test_normalize_forms(spark):
    rows = [
        (0, "Café"),          # decomposed acute → NFC composes
        (1, "ﬁle"),            # ﬁ ligature → NFKC folds to "fi"
        (2, "ＡＢＣ"),                # fullwidth → NFKC folds to ASCII
        (3, "  a \t b\n\nc  "),     # whitespace collapse
        (4, None),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    nfc = {r["id"]: r["text"] for r in normalize_text(
        df, "text", form="NFC").collect()}
    assert nfc[0] == "Café"
    assert nfc[1] == "ﬁle"     # NFC does NOT fold compatibility
    assert nfc[4] is None
    nfkc = {r["id"]: r["text"] for r in normalize_text(
        df, "text", form="NFKC", lower=True, collapse_ws=True).collect()}
    assert nfkc[1] == "file"
    assert nfkc[2] == "abc"
    assert nfkc[3] == "a b c"


def test_normalize_none_stays_jvm(spark):
    df = spark.createDataFrame([(0, " A  B ")], "id long, text string")
    out = normalize_text(df, "text", form="none", lower=True,
                         collapse_ws=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan
    assert out.collect()[0]["text"] == "a b"


def test_normalize_unknown_form():
    with pytest.raises(ValueError, match="unknown normalization form"):
        normalize_text(None, "text", form="NFX")


@pytest.mark.parametrize("host,expected", [
    ("a.b.co.uk", "b.co.uk"),
    ("x.example.com", "example.com"),
    ("deep.sub.x.example.com", "example.com"),
    ("h3.co.jp", "h3.co.jp"),
    ("localhost", "localhost"),
    ("co.uk", "co.uk"),             # 2 labels → the host itself
])
def test_base_domain(spark, host, expected):
    df = spark.createDataFrame([(host,)], "h string")
    got = df.select(base_domain("h").alias("d")).collect()[0]["d"]
    assert got == expected


def test_url_parts(spark):
    df = spark.createDataFrame(
        [(0, "https://h3.example.com/p/click?q=5"),
         (1, "http://a.b.co.uk/"),
         (2, "not a url")],
        "id long, url string")
    rows = {r["id"]: r for r in url_parts(df, "url").collect()}
    assert rows[0]["u_proto"] == "https"
    assert rows[0]["u_host"] == "h3.example.com"
    assert rows[0]["u_path"] == "/p/click"
    assert rows[0]["u_query"] == "q=5"
    assert rows[0]["u_domain"] == "example.com"
    assert rows[1]["u_domain"] == "b.co.uk"
    assert rows[2]["u_host"] is None


def test_cap_per_host_salted_equals_plain(spark):
    # skewed fixture: one host carries 80% of rows
    rows = [(i, "big.com" if i % 5 != 0 else f"h{i % 7}.com",
             float(i % 13), i) for i in range(400)]
    df = spark.createDataFrame(rows, "id long, host string, "
                                     "score double, tie long")
    order = [F.desc("score"), F.col("tie")]
    plain = cap_per_host(df, "host", order, 4)
    salted = cap_per_host(df, "host", order, 4, salt_buckets=8,
                          salt_key="id")
    assert sorted(r["id"] for r in plain.collect()) == \
           sorted(r["id"] for r in salted.collect())
    per_host = salted.groupBy("host").count().collect()
    assert all(r["count"] <= 4 for r in per_host)


def test_cap_per_host_errors(spark):
    df = spark.createDataFrame([(1, "h")], "id long, host string")
    with pytest.raises(ValueError, match="must be positive"):
        cap_per_host(df, "host", [F.col("id")], 0)
    with pytest.raises(ValueError, match="needs salt_key"):
        cap_per_host(df, "host", [F.col("id")], 3, salt_buckets=4)


def test_html_to_text(spark):
    from fluent_bit_spark.operators.web import html_to_text
    html = ('<html><head><script>if (a<b) { x(); }</script>'
            '<style>p{color:red}</style></head><body><!-- hidden -->'
            '<h1>Title</h1><p>One &amp; two &lt;three&gt;</p>'
            '<div>A &amp;amp; B&nbsp;C</div><br/>tail  words'
            '</body></html>')
    df = spark.createDataFrame([(0, html)], "id long, html string")
    out = html_to_text(df, "html").collect()[0]["text_plain"]
    # script/style/comment bodies gone; block closers -> newlines;
    # entities decoded exactly one level (&amp;amp; -> &amp;)
    assert out == "Title\nOne & two <three>\nA &amp; B C\ntail words"
    plan = html_to_text(df, "html")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan


def test_run_curate_cli_full_chain(spark, tmp_path, monkeypatch):
    """jobs/run_curate.py in-suite: html→text → NFKC/lower → redact →
    lang + gopher gate → per-host cap; exact conservation and the
    audit trail carries per-stage evidence."""
    import importlib
    import json as _json
    import os
    import sys

    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "jobs"))
    run_curate = importlib.import_module("run_curate")

    rows = []
    for i in range(12):
        host = "big.com" if i < 8 else f"h{i}.org"
        # distinct-rich English-marked text that passes every Gopher
        # rule: stopword markers once each + 30 unique mid-length words
        long_en = ("the and for with this that from they have been " +
                   " ".join(f"w{i}x{j:02d}" for j in range(30)))
        rows.append((
            f"d{i}",
            f"<p>{long_en} mail u{i}@x.io</p><script>var j=1;</script>",
            f"https://{host}/p/{i}"))
    # d12: fails the gopher gate (too few words)
    rows.append(("d12", "<p>tiny</p>", "https://small.net/x"))
    inp = str(tmp_path / "pages.parquet")
    spark.createDataFrame(
        rows, "doc_id string, html string, url string").write.parquet(inp)

    out = str(tmp_path / "curated")
    printed = []
    monkeypatch.setattr(sys, "argv", [
        "run_curate.py", "--input", inp, "--output", out,
        "--html-col", "html", "--form", "NFKC", "--lower",
        "--collapse-ws", "--redact", "--lang", "--gopher",
        "--url-col", "url", "--cap", "5", "--salt", "4"])
    monkeypatch.setattr("builtins.print", lambda s: printed.append(s))
    assert run_curate.main() == 0
    rep = _json.loads(printed[-1])
    assert rep["conserved"] and rep["docs_in"] == 13
    kept = spark.read.parquet(f"{out}/kept")
    dropped = spark.read.parquet(f"{out}/dropped")
    # gopher dropped d12; big.com capped 8 → 5
    reasons = {(r.doc_id, r.drop_reason) for r in
               dropped.select("doc_id", "drop_reason").collect()}
    assert ("d12", "gopher") in reasons
    assert sum(1 for _, why in reasons if why == "host_cap") == 3
    assert kept.count() == 9
    k0 = kept.filter("doc_id = 'd0'").collect()[0]
    assert "<script>" not in k0.text and "var j" not in k0.text
    assert "<EMAIL>" in k0.text and "@x.io" not in k0.text
    assert k0.email_hits == 1 and k0.lang_id == "en"
    assert k0.u_host == "big.com" and k0.gq_reasons == 0


def test_canonical_url_rules(spark):
    """Scheme/host lowercase, scheme-matched default-port strip,
    fragment drop, tracking-param strip + param sort, trailing-slash
    and empty-path normalization, NULL on non-URLs."""
    from fluent_bit_spark.operators.web import canonical_url

    cases = [
        ("HTTP://Ex.COM:80/A/?b=2&utm_source=x&a=1#frag",
         "http://ex.com/A?a=1&b=2"),
        ("https://ex.com:443/p", "https://ex.com/p"),
        # :80 on https is NOT the default port — preserved
        ("https://ex.com:80/p", "https://ex.com:80/p"),
        ("http://ex.com", "http://ex.com/"),
        ("http://ex.com/?fbclid=abc", "http://ex.com/"),
        ("http://ex.com/p/", "http://ex.com/p"),
        ("http://ex.com/p?ref=tw&z=1&gclid=2", "http://ex.com/p?z=1"),
        ("not a url", None),
        ("", None),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = {r.url: r.url_canon
           for r in canonical_url(df).select("url", "url_canon").collect()}
    for u, want in cases:
        assert got[u] == want, (u, got[u], want)
    # map-only: no Python boundary, no exchange
    plan = canonical_url(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan


def test_run_curate_cli_ensemble_gate(spark, tmp_path, monkeypatch):
    """jobs/run_curate.py --ensemble: the multi-signal gate replaces
    the gopher stage — survivors keep ens_reasons for audit, drops
    land in dropped/ with drop_reason='ensemble', conservation holds,
    and --ensemble + --gopher together error."""
    import importlib
    import json as _json
    import os
    import sys

    import pytest as _pytest

    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "jobs"))
    run_curate = importlib.import_module("run_curate")

    kv = " ".join(f"wordy{i:02d}" for i in range(20))
    docs_p = str(tmp_path / "docs.parquet")
    out = str(tmp_path / "cur_out")
    spark.createDataFrame(
        [("d1", "en", kv + " " + kv),
         ("d2", "en", kv + " " + kv),
         ("d3", "en", "tiny doc"),
         ("d4", "xx", " ".join(["umlaut prefix suffix infix"] * 10))],
        "doc_id string, lang string, text string").write.parquet(docs_p)

    printed = []
    monkeypatch.setattr(sys, "argv", [
        "run_curate.py", "--input", docs_p, "--output", out,
        "--ensemble", "lang = 'en'", "--ensemble-band", "8"])
    monkeypatch.setattr("builtins.print", lambda s: printed.append(s))
    assert run_curate.main() == 0
    rep = _json.loads(printed[-1])
    assert rep["conserved"] and rep["docs_in"] == 4
    kept = spark.read.parquet(f"{out}/kept")
    dropped = spark.read.parquet(f"{out}/dropped")
    assert {r.doc_id for r in kept.collect()} == {"d1", "d2"}
    assert "ens_reasons" in kept.columns
    drops = {r.doc_id: r.drop_reason for r in dropped.collect()}
    assert set(drops) == {"d3", "d4"}
    assert set(drops.values()) == {"ensemble"}

    monkeypatch.setattr(sys, "argv", [
        "run_curate.py", "--input", docs_p, "--output", out,
        "--ensemble", "lang = 'en'", "--gopher"])
    with _pytest.raises(SystemExit):
        run_curate.main()
