"""Golden key sets per predicate — mirrors dedupe/tests/test_predicates.py:6-126."""

import pyspark.sql.functions as F
import pytest

from ny_campaign_finance_dedupe_spark.functions import keygen, normalize


def keys(spark, expr_fn, value, *args):
    df = spark.createDataFrame([(value,)], "v string")
    row = df.select(expr_fn(F.col("v"), *args).alias("k")).collect()[0]
    return set(row["k"]) if row["k"] is not None else set()


def test_whole_field(spark):
    assert keys(spark, keygen.whole_field, "a b") == {"a b"}
    assert keys(spark, keygen.whole_field, None) == set()


def test_tokens(spark):
    assert keys(spark, keygen.tokens, "a b a") == {"a", "b"}
    assert keys(spark, keygen.tokens, None) == set()


def test_first_token(spark):
    assert keys(spark, keygen.first_token, "foo bar") == {"foo"}
    assert keys(spark, keygen.first_token, "") == set()


def test_prefix(spark):
    assert keys(spark, keygen.prefix, "abcdef", 3) == {"abc"}
    assert keys(spark, keygen.prefix, "ab", 3) == set()


def test_fingerprint(spark):
    # sorted unique words concatenated (predicates.py:421-422)
    assert keys(spark, keygen.fingerprint, "tomato potato tomato") == {"potatotomato"}


def test_sorted_acronym(spark):
    assert keys(spark, keygen.sorted_acronym, "zebra apple mango") == {"amz"}


def test_common_integers(spark):
    assert keys(spark, keygen.common_integers, "a 007 b 12") == {"7", "12"}
    assert keys(spark, keygen.common_integers, "no digits") == set()


def test_first_integer(spark):
    assert keys(spark, keygen.first_integer, "042 main st") == {"42"}
    assert keys(spark, keygen.first_integer, "main 42") == set()


def test_near_integers(spark):
    assert keys(spark, keygen.near_integers, "x 5") == {"4", "5", "6"}


def test_alpha_numeric(spark):
    assert keys(spark, keygen.alpha_numeric, "apt 4b zip 12f77") == {"4b", "12f77"}


def test_word_ngrams(spark):
    assert keys(spark, keygen.word_ngrams, "a b c", 2) == {"a b", "b c"}
    assert keys(spark, keygen.word_ngrams, "a", 2) == set()


def test_char_ngrams(spark):
    # spaces removed first (predicates.py:437-444)
    assert keys(spark, keygen.char_ngrams, "ab cd", 4) == {"abcd"}
    assert keys(spark, keygen.char_ngrams, "abcde", 4) == {"abcd", "bcde"}


def test_exists_key(spark):
    assert keys(spark, keygen.exists_key, "x") == {"1"}
    assert keys(spark, keygen.exists_key, None) == {"0"}


def test_compound(spark):
    df = spark.range(1)
    row = df.select(
        keygen.compound(
            F.array(F.lit("a"), F.lit("b")), F.array(F.lit("x"))
        ).alias("k")
    ).collect()[0]
    assert set(row["k"]) == {"a:x", "b:x"}


def test_domain_key(spark):
    assert keys(spark, keygen.domain_key, "https://www.Example.com/p/1") == {
        "example.com"
    }
    assert keys(spark, keygen.domain_key, "http://sub.site.org:8080/x?q=1") == {
        "sub.site.org"
    }


def test_normalize_text(spark):
    df = spark.createDataFrame([("  Hello,   WORLD!! ",), ("...",), (None,)], "v string")
    got = [r["n"] for r in df.select(normalize.normalize_text("v").alias("n")).collect()]
    assert got == ["hello world", None, None]


def test_canonicalize_abbrev(spark):
    df = spark.createDataFrame(
        [("123 main st",), ("p o box 55",), ("stop street",)], "v string"
    )
    got = [
        r["n"] for r in df.select(normalize.canonicalize_abbrev("v").alias("n")).collect()
    ]
    assert got == ["123 main street", "post office box 55", "stop street"]


def test_extract_text_roundtrip(spark):
    html = "<html><body><p>Hello  world</p></body></html>".encode()
    df = spark.createDataFrame([(html,), (None,)], "h binary")
    got = [
        r["t"]
        for r in df.select(normalize.extract_text_udf()(F.col("h")).alias("t")).collect()
    ]
    assert got == ["Hello world", None]


def test_canonical_url_rules(spark):
    """Every canonicalization rule, one case each — scheme fold, host
    case, www, default vs non-default port, trailing slash, fragment,
    tracking params, param sort, non-URL passthrough."""
    cases = [
        # (input, expected canonical)
        ("HTTP://WWW.Site1.Example.COM:443/Docs/3/?b=2&a=1#frag",
         "https://site1.example.com/Docs/3?a=1&b=2"),
        ("https://site1.example.com/Docs/3?a=1&b=2",
         "https://site1.example.com/Docs/3?a=1&b=2"),
        # tracking-only query -> no '?'
        ("https://a.com/x?utm_source=feed&fbclid=Z&gclid=1&msclkid=2&ref=t",
         "https://a.com/x"),
        # bare utm param without '=' still dropped; unknown kept
        ("https://a.com/x?utm_campaign&keep=1", "https://a.com/x?keep=1"),
        # non-default port survives; path case survives
        ("http://A.com:8080/KeepCase/", "https://a.com:8080/KeepCase"),
        # root trailing slash -> empty path; :80 stripped
        ("http://www.a.com:80/", "https://a.com"),
        # fragment containing '?' must not leak into the query
        ("https://a.com/p#frag?x=1", "https://a.com/p"),
        # non-URL string: lower+trim passthrough
        ("  Not A Url  ", "not a url"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "u string")
    got = [
        r["c"]
        for r in df.select(
            normalize.canonical_url(F.col("u")).alias("c")
        ).collect()
    ]
    assert got == [want for _, want in cases]


def test_canonical_url_groups_variants(spark):
    """The planted-variant shapes q_url_dedup relies on: case/www/port/
    slash/tracking/param-order variants of one page collapse to a single
    canonical key; a different path does not."""
    variants = [
        "HTTP://WWW.Site2.Example.COM/Docs/7?utm_source=feed&b=2&a=1",
        "https://site2.example.com/Docs/7/?a=1&b=2&fbclid=XYZ",
        "https://Site2.example.com:443/Docs/7?b=2&a=1#Section-2",
    ]
    other = "https://site2.example.com/Docs/8?a=1&b=2"
    df = spark.createDataFrame(
        [(u,) for u in variants + [other]], "u string"
    )
    keys = {
        r["c"]
        for r in df.select(
            normalize.canonical_url(F.col("u")).alias("c")
        ).collect()
    }
    assert len(keys) == 2


def test_redact_pii_goldens(spark):
    """Each PII class and the documented recall-oriented behavior:
    emails, dotted quads, phone-shaped runs redact; short digit runs
    and plain words survive; order (ip before phone) keeps quads as
    <IP>, not <PHONE>."""
    cases = [
        ("mail bob.smith+x@sub.example.co.uk now",
         "mail <EMAIL> now"),
        ("server at 192.168.001.255 up", "server at <IP> up"),
        ("call +1 (555) 010-9922 today", "call <PHONE> today"),
        ("v2 build 7 ok", "v2 build 7 ok"),          # short digits survive
        ("ip 10.0.0.1 then 555-0199-22", "ip <IP> then <PHONE>"),
        ("a@b.co and 1.2.3.4", "<EMAIL> and <IP>"),
    ]
    df = spark.createDataFrame([(t,) for t, _ in cases], "t string")
    got = [r["c"] for r in df.select(
        normalize.redact_pii(F.col("t")).alias("c")).collect()]
    assert got == [want for _, want in cases]


def test_redact_pii_vertical_tab_parity(spark):
    """The phone class spells whitespace out instead of \\s because
    Java's \\s includes \\x0B and RE2's does not: a vertical-tab-
    separated digit run must be left intact on BOTH engines (pattern
    identity beats marginal recall here)."""
    df = spark.createDataFrame(
        [("call 555\x0b0199-22 now",), ("call 555\t0199-22 now",)],
        "t string",
    )
    got = [r["c"] for r in df.select(
        normalize.redact_pii(F.col("t")).alias("c")).collect()]
    assert got[0] == "call 555\x0b0199-22 now"  # \x0B: not whitespace
    assert got[1] == "call <PHONE> now"          # real tab: redacts


def test_name_concat_skips_null_middle(spark):
    """N2: CONCAT_WS(' ', first, middle, last) — a NULL part is skipped,
    not turned into a double space or a NULL result."""
    df = spark.createDataFrame(
        [("ann", None, "lee"), ("bo", "j", "kim")], "f string, m string, l string"
    )
    got = [
        r["n"]
        for r in df.select(normalize.name_concat("f", F.col("m"), "l").alias("n")).collect()
    ]
    assert got == ["ann lee", "bo j kim"]
