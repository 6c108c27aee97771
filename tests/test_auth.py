"""Auth layer (api/auth.py + app wiring): API-key 403s, restricted-dataset
401s, /auth key-management routes.

Reference contract: app/authentication/api_keys.py + token.py;
tests_v2/unit/app/routes/datasets/test_query.py:324-335 (401 on
restricted datasets)."""

from __future__ import annotations

import csv as csvmod
import io
import json
from datetime import datetime, timedelta

import pytest

from gfw_data_api_spark.api.app import create_app
from gfw_data_api_spark.api.auth import (
    ApiKeyStore,
    AuthConfig,
    TokenAuthenticator,
    User,
    api_key_is_valid,
)
from gfw_data_api_spark.catalog.geostore import Geostore
from gfw_data_api_spark.catalog.registry import Registry
from gfw_data_api_spark.sources.pipeline import ingest_tabular

pytestmark = pytest.mark.usefixtures("catalog_schema_check")


def call(app, method, path, query="", body=None, headers=None):
    raw = json.dumps(body).encode() if body is not None else b""
    environ = {
        "REQUEST_METHOD": method,
        "PATH_INFO": path,
        "QUERY_STRING": query,
        "CONTENT_LENGTH": str(len(raw)),
        "wsgi.input": io.BytesIO(raw),
    }
    for name, value in (headers or {}).items():
        environ["HTTP_" + name.upper().replace("-", "_")] = value
    captured = {}

    def start_response(status, hdrs):
        captured["status"] = int(status.split()[0])

    captured["body"] = json.loads(b"".join(app(environ, start_response)))
    return captured


@pytest.fixture(scope="module")
def authed(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("auth_api")
    registry = Registry(str(tmp / "catalog"))
    csv_path = str(tmp / "rows.csv")
    with open(csv_path, "w", newline="") as fh:
        w = csvmod.writer(fh)
        w.writerow(["id", "iso"])
        for i in range(10):
            w.writerow([i, "MOZ"])
    ingest_tabular(registry, spark, "open_data", "v1", csv_path)
    ingest_tabular(registry, spark, "wdpa_licensed_protected_areas", "v1", csv_path)

    tokens = TokenAuthenticator()
    admin = User(id="u-admin", role="ADMIN", apps=["gfw"])
    plain = User(id="u-plain", role="USER", apps=["gfw"])
    manager = User(id="u-mgr", role="ADMIN", apps=["other-app"])
    other = User(id="u-other", role="USER", apps=["gfw"])
    admin_tok = tokens.register(admin)
    plain_tok = tokens.add_credentials("plain", "pw123", plain)
    mgr_tok = tokens.register(manager)
    other_tok = tokens.register(other)

    store = ApiKeyStore(str(tmp / "keys.json"))
    open_key = store.create(plain, "default", "org", "a@b.c", [])
    domain_key = store.create(plain, "web", "org", "a@b.c", ["*.example.com"])
    expired = store.create(plain, "old", "org", "a@b.c", [])
    expired.expires_on = (datetime.utcnow() - timedelta(days=1)).isoformat()
    store._save()

    app = create_app(
        spark,
        registry,
        Geostore(registry),
        auth=AuthConfig(token_auth=tokens, key_store=store),
    )
    return {
        "app": app,
        "store": store,
        "tokens": {
            "admin": admin_tok,
            "plain": plain_tok,
            "mgr": mgr_tok,
            "other": other_tok,
        },
        "keys": {
            "open": open_key.api_key,
            "domain": domain_key.api_key,
            "expired": expired.api_key,
        },
    }


Q = "sql=SELECT%20count(*)%20AS%20c%20FROM%20data"


def test_query_without_key_403(authed):
    out = call(authed["app"], "GET", "/dataset/open_data/v1/query/json", query=Q)
    assert out["status"] == 403
    assert out["body"]["message"] == "No valid API Key found."


def test_query_with_unknown_key_403(authed):
    out = call(
        authed["app"], "GET", "/dataset/open_data/v1/query/json", query=Q,
        headers={"x-api-key": "not-a-key"},
    )
    assert out["status"] == 403


def test_query_with_valid_key_200(authed):
    out = call(
        authed["app"], "GET", "/dataset/open_data/v1/query/json", query=Q,
        headers={"x-api-key": authed["keys"]["open"]},
    )
    assert out["status"] == 200
    assert out["body"]["data"] == [{"c": 10}]


def test_query_key_in_query_param(authed):
    out = call(
        authed["app"], "GET", "/dataset/open_data/v1/query/json",
        query=Q + "&x-api-key=" + authed["keys"]["open"],
    )
    assert out["status"] == 200


def test_domain_bound_key_requires_origin(authed):
    key = authed["keys"]["domain"]
    no_origin = call(
        authed["app"], "GET", "/dataset/open_data/v1/query/json", query=Q,
        headers={"x-api-key": key},
    )
    assert no_origin["status"] == 403
    good = call(
        authed["app"], "GET", "/dataset/open_data/v1/query/json", query=Q,
        headers={"x-api-key": key, "origin": "https://www.example.com/page"},
    )
    assert good["status"] == 200
    bad = call(
        authed["app"], "GET", "/dataset/open_data/v1/query/json", query=Q,
        headers={"x-api-key": key, "origin": "https://evil.org"},
    )
    assert bad["status"] == 403
    referred = call(
        authed["app"], "GET", "/dataset/open_data/v1/query/json", query=Q,
        headers={"x-api-key": key, "referer": "https://app.example.com/x"},
    )
    assert referred["status"] == 200


def test_expired_key_403(authed):
    out = call(
        authed["app"], "GET", "/dataset/open_data/v1/query/json", query=Q,
        headers={"x-api-key": authed["keys"]["expired"]},
    )
    assert out["status"] == 403


def test_restricted_dataset_needs_admin_token(authed):
    path = "/dataset/wdpa_licensed_protected_areas/v1/query/json"
    key = {"x-api-key": authed["keys"]["open"]}
    no_token = call(authed["app"], "GET", path, query=Q, headers=key)
    assert no_token["status"] == 401
    assert no_token["body"]["message"] == (
        "Unauthorized query on a restricted dataset or version"
    )
    non_admin = call(
        authed["app"], "GET", path, query=Q,
        headers=key | {"authorization": "Bearer " + authed["tokens"]["plain"]},
    )
    assert non_admin["status"] == 401
    wrong_app = call(
        authed["app"], "GET", path, query=Q,
        headers=key | {"authorization": "Bearer " + authed["tokens"]["mgr"]},
    )
    assert wrong_app["status"] == 401
    admin = call(
        authed["app"], "GET", path, query=Q,
        headers=key | {"authorization": "Bearer " + authed["tokens"]["admin"]},
    )
    assert admin["status"] == 200
    assert admin["body"]["data"] == [{"c": 10}]


def test_download_requires_key(authed):
    out = call(authed["app"], "GET", "/dataset/open_data/v1/download/csv", query=Q)
    assert out["status"] == 403


def test_token_login(authed):
    ok = call(authed["app"], "POST", "/auth/token",
              body={"username": "plain", "password": "pw123"})
    assert ok["status"] == 200
    assert ok["body"]["data"]["access_token"] == authed["tokens"]["plain"]
    bad = call(authed["app"], "POST", "/auth/token",
               body={"username": "plain", "password": "nope"})
    assert bad["status"] == 401


def test_apikey_lifecycle(authed):
    app = authed["app"]
    plain = {"authorization": "Bearer " + authed["tokens"]["plain"]}
    admin = {"authorization": "Bearer " + authed["tokens"]["admin"]}

    no_token = call(app, "POST", "/auth/apikey", body={"alias": "k1"})
    assert no_token["status"] == 401

    made = call(app, "POST", "/auth/apikey",
                body={"alias": "k1", "organization": "o", "email": "e@x.y",
                      "domains": []},
                headers=plain)
    assert made["status"] == 201
    key_id = made["body"]["data"]["api_key"]
    assert made["body"]["data"]["expires_on"] is not None  # 1-year default

    dupe = call(app, "POST", "/auth/apikey", body={"alias": "k1"}, headers=plain)
    assert dupe["status"] == 409

    forever = call(app, "POST", "/auth/apikey",
                   body={"alias": "k2", "never_expires": True}, headers=plain)
    assert forever["status"] == 400  # non-admin cannot set never_expires
    admin_forever = call(app, "POST", "/auth/apikey",
                         body={"alias": "k2", "never_expires": True},
                         headers=admin)
    assert admin_forever["status"] == 201
    assert admin_forever["body"]["data"]["expires_on"] is None

    got = call(app, "GET", f"/auth/apikey/{key_id}", headers=plain)
    assert got["status"] == 200
    # a different non-admin user cannot view someone else's key
    other = call(app, "GET", f"/auth/apikey/{key_id}",
                 headers={"authorization": "Bearer " + authed["tokens"]["other"]})
    assert other["status"] == 403
    # any ADMIN-role user can (reference get_api_key route)
    as_admin = call(app, "GET", f"/auth/apikey/{key_id}",
                    headers={"authorization": "Bearer " + authed["tokens"]["mgr"]})
    assert as_admin["status"] == 200

    missing = call(app, "GET", "/auth/apikey/does-not-exist", headers=plain)
    assert missing["status"] == 404

    listing = call(app, "GET", "/auth/apikeys", headers=plain)
    assert listing["status"] == 200
    assert any(k["api_key"] == key_id for k in listing["body"]["data"])

    check = call(app, "GET", f"/auth/apikey/{key_id}/validate", headers=admin)
    assert check["status"] == 200 and check["body"]["data"]["is_valid"] is True
    not_admin = call(app, "GET", f"/auth/apikey/{key_id}/validate", headers=plain)
    assert not_admin["status"] == 401

    gone = call(app, "DELETE", f"/auth/apikey/{key_id}", headers=plain)
    assert gone["status"] == 200
    assert call(app, "GET", f"/auth/apikey/{key_id}", headers=plain)["status"] == 404


def test_api_key_is_valid_unit():
    assert api_key_is_valid([], None, None, None)
    assert api_key_is_valid(["example.com"], None, "https://example.com")
    assert api_key_is_valid(["*.example.com"], None, "http://a.b.example.com:8080")
    assert not api_key_is_valid(["*.example.com"], None, "https://example.org")
    assert not api_key_is_valid(["example.com"], None, None, None)
    future = (datetime.utcnow() + timedelta(days=1)).isoformat()
    past = (datetime.utcnow() - timedelta(days=1)).isoformat()
    assert api_key_is_valid([], future)
    assert not api_key_is_valid([], past)


def test_open_mode_unchanged(spark, tmp_path_factory):
    """auth=None keeps the API fully open (round-1 behavior)."""
    tmp = tmp_path_factory.mktemp("open_api")
    registry = Registry(str(tmp / "catalog"))
    csv_path = str(tmp / "r.csv")
    with open(csv_path, "w", newline="") as fh:
        w = csvmod.writer(fh)
        w.writerow(["id"])
        w.writerow([1])
    ingest_tabular(registry, spark, "d", "v1", csv_path)
    app = create_app(spark, registry)
    out = call(app, "GET", "/dataset/d/v1/query/json", query=Q)
    assert out["status"] == 200
    assert call(app, "POST", "/auth/token", body={})["status"] == 404


def test_write_routes_require_manager(authed):
    """PUT dataset / POST assets / PATCH asset metadata / zonal analysis
    are gated when auth is on (code-review regression)."""
    app = authed["app"]
    no_creds_cases = [
        ("PUT", "/dataset/new_ds", {"is_downloadable": True}),
        ("POST", "/dataset/open_data/v1/assets", {"asset_type": "csv"}),
    ]
    for method, path, body in no_creds_cases:
        out = call(app, method, path, body=body)
        assert out["status"] == 401, (method, path, out)
    # non-manager token also rejected
    plain = {"authorization": "Bearer " + authed["tokens"]["plain"]}
    out = call(app, "PUT", "/dataset/new_ds", body={}, headers=plain)
    assert out["status"] == 401


def test_zonal_requires_api_key(authed):
    geom = {"type": "Polygon",
            "coordinates": [[[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0], [0.0, 0.0]]]}
    out = call(authed["app"], "POST", "/analysis/zonal",
               body={"geometry": geom, "dataset": "open_data"})
    assert out["status"] == 403
    assert out["body"]["message"] == "No valid API Key found."


def test_validate_route_pins_method(authed):
    admin = {"authorization": "Bearer " + authed["tokens"]["admin"]}
    key = authed["keys"]["open"]
    out = call(authed["app"], "DELETE", f"/auth/apikey/{key}/validate",
               headers=admin)
    assert out["status"] != 200 or "is_valid" not in out.get("body", {}).get("data", {})


def test_task_callbacks_require_manager(authed, spark, tmp_path_factory):
    """PUT/PATCH /task are service-account routes (reference
    is_service_account dependency → MANAGER/ADMIN gate here)."""
    registry = Registry(str(tmp_path_factory.mktemp("task_auth") / "cat"))
    registry.ensure_dataset("ds")
    registry.create_version("ds", "v1")
    asset = registry.create_asset("ds", "v1", "database_table", is_default=True)
    app = authed["app"]
    # the authed app's registry differs, but authorization is checked
    # BEFORE the task store: a plain USER must bounce with 401
    plain = {"authorization": "Bearer " + authed["tokens"]["plain"]}
    out = call(app, "PUT", "/task/t-auth", body={"asset_id": asset.asset_id},
               headers=plain)
    assert out["status"] == 401
    out = call(app, "PATCH", "/task/t-auth",
               body={"change_log": [{"status": "success"}]}, headers=plain)
    assert out["status"] == 401
    # ADMIN passes the gate (then hits 400 for the foreign asset id —
    # authorization happened first)
    admin = {"authorization": "Bearer " + authed["tokens"]["admin"]}
    out = call(app, "PUT", "/task/t-auth", body={"asset_id": asset.asset_id},
               headers=admin)
    assert out["status"] == 400
