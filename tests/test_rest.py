"""REST surface tests: each route of the WSGI app against the reference's
response contracts (student_routes.py), exercised in-process."""

from __future__ import annotations

import io
import json

import pytest

from graphdb_neo4j_spark.api import GraphService
from graphdb_neo4j_spark.rest import RestApp, _recommendation_message
from tests.test_api import _force_spark


@pytest.fixture(scope="module")
def app(spark, sf_dir):
    return RestApp(service=GraphService(spark=spark, sf_dir=sf_dir))


def call(app, method, path, form: dict | None = None):
    body = b""
    if form:
        from urllib.parse import urlencode

        body = urlencode(form, doseq=True).encode()
    environ = {
        "REQUEST_METHOD": method,
        "PATH_INFO": path,
        "CONTENT_LENGTH": str(len(body)),
        "wsgi.input": io.BytesIO(body),
    }
    captured = {}

    def start_response(status, headers):
        captured["status"] = int(status.split()[0])

    out = b"".join(app(environ, start_response))
    return captured["status"], json.loads(out)


def test_db_check(app):
    status, body = call(app, "GET", "/api/v1/db-check")
    assert status == 200 and body == {"db_connected": True}


def test_get_student_detail(app):
    status, body = call(app, "GET", "/api/v1/students/1")
    assert status == 200
    assert body["id"] == 1
    assert set(body) == {
        "id", "name", "address", "college", "board", "stream", "interests",
    }


def test_get_student_404(app):
    status, body = call(app, "GET", "/api/v1/students/99999999")
    assert status == 404 and body == {"detail": "Student not found"}


@pytest.mark.parametrize("path", ["arrow", "spark"])
def test_id_outside_bigint_is_a_missing_student(app, path, monkeypatch):
    """No node id exceeds BIGINT, so such an id names no student: 404 for
    the detail route, no recommendations, and no engine error in the body."""
    if path == "spark":
        _force_spark(monkeypatch)
    huge = "99999999999999999999"
    status, body = call(app, "GET", f"/api/v1/students/{huge}")
    assert status == 404 and body == {"detail": "Student not found"}
    status, body = call(app, "GET", f"/api/v1/recommend/people/{huge}")
    assert status == 200
    assert body["students"] == [] and body["total_matches"] == 0


def test_recommend_contract(app):
    status, body = call(app, "GET", "/api/v1/recommend/people/1")
    assert status == 200
    assert set(body) == {"students", "message", "total_matches"}
    assert body["total_matches"] == len(body["students"])
    if body["students"]:
        assert body["message"].endswith("in this platform.")
        first = body["students"][0]
        assert {"id", "name", "score"} <= set(first)


def test_onboard_then_fetch(app):
    status, body = call(
        app,
        "POST",
        "/api/v1/onboard",
        form={
            "name": "Aayush REST",
            "address": "Lalitpur",
            "college": "St. Xavier College",
            "board": "Nepal Board",
            "stream": "Science",
            "interests": ["Math", "Programming"],
        },
    )
    assert status == 200
    assert body["message"] == "Student onboarded successfully"
    sid = body["student_id"]
    status, detail = call(app, "GET", f"/api/v1/students/{sid}")
    assert status == 200
    # reference stores every field lowercase on entry
    assert detail["name"] == "aayush rest"
    assert detail["college"] == "st. xavier college"
    assert sorted(detail["interests"]) == ["math", "programming"]


def test_unknown_route_404(app):
    status, _ = call(app, "GET", "/api/v1/nope")
    assert status == 404


def test_onboard_get_is_405(app):
    status, _ = call(app, "GET", "/api/v1/onboard")
    assert status == 404 or status == 405  # GET on onboard falls through


def test_message_grammar():
    # exact strings from student_routes.py:47-58
    assert _recommendation_message([]) == "Sorry, no matches found for this platform."
    assert _recommendation_message(["a"]) == "a is also in this platform."
    assert _recommendation_message(["a", "b"]) == "a and b are also in this platform."
    assert (
        _recommendation_message(["a", "b", "c"])
        == "a, b, and c are also in this platform."
    )


@pytest.fixture(scope="module")
def onboarded(app):
    """POST /onboard a twin of student 1 (same attributes and interests, one
    token repeated); returns (anchor body, new id, n distinct tokens)."""
    status, anchor = call(app, "GET", "/api/v1/students/1")
    assert status == 200 and anchor["interests"]
    toks = anchor["interests"]
    status, body = call(
        app,
        "POST",
        "/api/v1/onboard",
        form={
            "name": "Rhea Onboard",
            "address": anchor["address"],
            "college": anchor["college"].upper(),
            "board": anchor["board"],
            "stream": anchor["stream"],
            "interests": toks + toks[:1],  # a repeated token counts once
        },
    )
    assert status == 200
    return anchor, body["student_id"], len(set(toks))


def _recommended(app, anchor_id):
    status, rec = call(app, "GET", f"/api/v1/recommend/people/{anchor_id}")
    assert status == 200
    return [(s["id"], s["name"], s["score"], s["n_common_interests"]) for s in rec["students"]]


def _relationship(app, anchor):
    rel = app.service.relationship("Rhea Onboard", anchor["name"])
    return rel and (rel.a_name, "SHARES_INTEREST" in rel.rel_types, rel.n_common_interests)


_VISIBILITY = {
    "recommend_as_anchor": lambda app, a, sid, n: (
        _recommended(app, sid), (1, a["name"], 4 + n, n)),
    "recommend_as_candidate": lambda app, a, sid, n: (
        _recommended(app, 1), (sid, "rhea onboard", 4 + n, n)),
    "search": lambda app, a, sid, n: (
        [m.id for m in app.service.search_students("rhea onbord", limit=3)][:1], sid),
    "relationship": lambda app, a, sid, n: (
        [_relationship(app, a)], ("rhea onboard", True, n)),
    "chat": lambda app, a, sid, n: (
        app.service.chat("who is Rhea Onboard?"), "name: rhea onboard"),
}


@pytest.mark.parametrize("case", sorted(_VISIBILITY))
def test_onboarded_student_reaches_every_read(app, onboarded, case):
    got, want = _VISIBILITY[case](app, *onboarded)
    assert want in got
