"""Seeded inputs: the same seed gives the same request stream and delta
provider; another seed gives others."""

from collections import Counter

from pdcmbench import api_serve, release_delta

DOMAINS = api_serve.Domains(
    histologies=[f"Diagnosis {i} Cancer" for i in range(97)],
    model_ids=list(range(1000, 16000)),
    molecular_models=[f"M{i}" for i in range(5000)],
)
PROVIDERS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE_EAST"]


def test_request_stream_repeats_for_a_seed():
    a = api_serve.request_stream(7, DOMAINS, 500)
    b = api_serve.request_stream(7, DOMAINS, 500)
    assert a == b
    assert a != api_serve.request_stream(8, DOMAINS, 500)


def test_request_stream_holds_the_mix_in_every_block():
    stream = api_serve.request_stream(3, DOMAINS, 1000)
    for start in range(0, 1000, 10):
        counts = Counter(r.cls for r in stream[start:start + 10])
        assert counts == {cls: k // 10 for cls, k in api_serve.MIX.items()}


def test_delta_provider_repeats_for_a_seed():
    assert all(
        release_delta.delta_provider(s, PROVIDERS)
        == release_delta.delta_provider(s, list(reversed(PROVIDERS)))
        for s in range(50))
    assert {release_delta.delta_provider(s, PROVIDERS)
            for s in range(50)} == set(PROVIDERS)


def test_facet_views_come_in_equal_shares():
    stream = api_serve.request_stream(11, DOMAINS, 1600)
    views = Counter(r.sql for r in stream if r.cls == "facet")
    assert len(views) == len(api_serve.FACETS)
    assert set(views.values()) == {320 // len(api_serve.FACETS)}


def test_warm_up_requests_reach_every_class_and_facet_view():
    warm = api_serve.request_stream(5, DOMAINS, api_serve.WARM_REQUESTS)
    assert {r.cls for r in warm} == set(api_serve.MIX)
    assert {r.sql for r in warm if r.cls == "facet"} == {
        f"SELECT * FROM {v}" for v in api_serve.FACETS}
