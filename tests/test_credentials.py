"""secrets_resolution parity: secret-store-first/env-fallback credential
resolution (sync-canvas-data-files.py:17-24). Signed delivery of the
resolved pair is tested through the ``sync`` verb in test_api_client.py."""

from __future__ import annotations

import json

import pytest

from canvas_data_aws_spark.ingest.credentials import (
    ApiCredentials,
    CredentialsError,
    resolve_credentials,
)


def test_secret_file_wins(tmp_path):
    f = tmp_path / "secret.json"
    f.write_text(json.dumps({"api_key": "k-file", "api_secret": "s-file"}))
    creds = resolve_credentials(str(f), env={"api_key": "k-env", "api_secret": "s-env"})
    assert creds == ApiCredentials("k-file", "s-file")


def test_env_fallback_on_bad_secret(tmp_path):
    missing = str(tmp_path / "nope.json")
    creds = resolve_credentials(missing, env={"api_key": "k-env", "api_secret": "s-env"})
    assert creds == ApiCredentials("k-env", "s-env")
    malformed = tmp_path / "bad.json"
    malformed.write_text("{not json")
    creds = resolve_credentials(str(malformed), env={"api_key": "k", "api_secret": "s"})
    assert creds.api_key == "k"


def test_no_source_raises():
    with pytest.raises(CredentialsError):
        resolve_credentials(None, env={})

