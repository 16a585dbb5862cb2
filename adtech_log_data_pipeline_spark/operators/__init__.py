from .validate import (
    UUID_PATTERN,
    VALID_EXCHANGES,
    is_valid_bidlog,
    valid_bid_logs,
)
from .device_profile import device_profiles, flatten_device_profiles
from .app_profile import (
    app_profile_slots_from_valid,
    app_profiles,
    assert_unique_device_ids,
    flatten_app_profiles,
)
from .suspicious import SuspiciousThresholds, suspicious_ids, suspicious_ids_from_valid
from .features import feature_inputs
from .tripwire import CorruptedDataError, assert_valid_device_profiles

__all__ = [
    "UUID_PATTERN",
    "VALID_EXCHANGES",
    "is_valid_bidlog",
    "valid_bid_logs",
    "device_profiles",
    "flatten_device_profiles",
    "app_profiles",
    "app_profile_slots_from_valid",
    "flatten_app_profiles",
    "assert_unique_device_ids",
    "SuspiciousThresholds",
    "suspicious_ids",
    "suspicious_ids_from_valid",
    "feature_inputs",
    "CorruptedDataError",
    "assert_valid_device_profiles",
]
