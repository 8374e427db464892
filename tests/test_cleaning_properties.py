"""Property-based checks (SURVEY.md §5 'Property checks') for the §2.5
cleaning ops' total-function policy: arbitrary input must never produce
null/crash, outputs obey their format invariants, and the idempotent ops
are idempotent. One Spark job per hypothesis example: all columns are
computed in a single select over the whole example batch."""

from __future__ import annotations

import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from data_wrangling_spark.functions import cleaning as C
from data_wrangling_spark.plans.osm_oracle import _clean

#: adversarial seeds mixed into the random corpus: reference dirty values
#: (FIXTURES.md §3) + structural edge cases
SEEDS = [
    "(512) 281-5566", "+1 512 281 5566", "78621-1234", "TX", "tx",
    "Elgin, TX", "Round Rock", "Round", "Main St.", "N FM 973", "IH 35",
    "", " ", "1", "11", "addr:street", "tiger:name_base:1", "a:b:c:d",
    "gnis:ST_alpha", "UPPER:case", ":", "::", "a:", ":b",
]

corpus = st.lists(
    st.one_of(st.sampled_from(SEEDS), st.text(max_size=30)),
    min_size=1,
    max_size=100,
)


@given(values=corpus)
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_cleaners_total_and_invariant(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "v string")
    rows = df.select(
        "v",
        C.clean_street("v").alias("street"),
        C.clean_phone("v").alias("phone"),
        C.clean_postcode("v").alias("postcode"),
        C.clean_city("v").alias("city"),
        C.clean_state("v").alias("state"),
        C.tag_type("v").alias("ttype"),
        C.tag_key("v").alias("tkey"),
        # idempotence: apply each cleaner to its own output
        C.clean_postcode(C.clean_postcode("v")).alias("postcode2"),
        C.clean_city(C.clean_city("v")).alias("city2"),
        C.clean_state(C.clean_state("v")).alias("state2"),
        C.clean_street(C.clean_street("v")).alias("street2"),
        # the dispatch the pipeline runs, for the oracle comparison
        C.clean_tag_value(F.lit("phone"), "v").alias("tv_phone"),
        C.clean_tag_value(F.lit("state"), "v").alias("tv_state"),
    ).collect()

    for r in rows:
        # totality: no nulls, no exceptions, for ANY input
        for field in ("street", "phone", "postcode", "city", "state", "ttype", "tkey"):
            assert r[field] is not None, f"{field} null for {r.v!r}"

        # postcode: '' or exactly the first 5-digit run
        assert r.postcode == "" or re.fullmatch(r"\d{5}", r.postcode)
        m = re.search(r"\d{5}", r.v)
        assert r.postcode == (m.group(0) if m else "")

        # phone: digit groups joined by exactly two dashes
        assert re.fullmatch(r"\d{0,3}-\d{0,3}-\d*", r.phone), (r.v, r.phone)

        # state: only exact 'TX' changes
        assert r.state == ("Texas" if r.v == "TX" else r.v)

        # tag namespace split: type=='regular' iff key lacks a
        # lowercase-colon prefix (SURVEY.md §5 property)
        if re.match(r"^([a-z]|_)+:([a-z]|_)+", r.v):
            assert r.ttype == r.v.split(":", 1)[0]
            assert r.tkey != ""
        else:
            assert r.ttype == "regular"
            assert r.tkey == r.v

        # the independent golden oracle (plans/osm_oracle) agrees with
        # the Spark dispatch on the reference phone and state rules
        assert r.tv_phone == _clean("phone", r.v), (r.v, r.tv_phone)
        assert r.tv_state == _clean("state", r.v), (r.v, r.tv_state)

        # idempotence
        assert r.postcode2 == r.postcode
        assert r.city2 == r.city
        assert r.state2 == r.state or r.state == "TX"
        assert r.street2 == r.street
