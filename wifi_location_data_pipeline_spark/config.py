"""Centralized engine constants mirroring the reference's configuration.

The reference scatters dozens of magic thresholds across Spring YAML and Java
constants; here they live in one auditable module. Every value cites its
origin in the reference repo (paths relative to the reference root) so drift
is checkable. See SURVEY.md §7 risk register ("constant-dense behavior").
"""

from __future__ import annotations

from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# Stage-1 validation / filtering
# (wifi-measurements-transformer-service/src/main/resources/application.yml:130-147,
#  .../service/DataValidationService.java)
# ---------------------------------------------------------------------------

MAX_LOCATION_ACCURACY_M = 150.0          # application.yml:131; FRAMEWORK doc §data-quality
RSSI_MIN_DBM = -100                      # application.yml:132
RSSI_MAX_DBM = 0                         # application.yml:133
MAX_MEASUREMENT_AGE_DAYS = 365           # DataValidationService.java:70
BSSID_REGEX = r"^([0-9A-Fa-f]{2}[:-]){5}[0-9A-Fa-f]{2}$"   # DataValidationService.java:66-67
INVALID_MACS_NO_SEP = ("000000000000", "ffffffffffff")     # DataValidationService.java:633-651

# Mobile-hotspot OUI blacklist (application.yml:140-147)
HOTSPOT_OUI_BLACKLIST = (
    "00:23:6C", "3C:15:C2", "58:55:CA", "40:B0:FA", "E8:50:8B", "DA:A1:19", "F8:A9:D0",
)
# Hotspot SSID name blacklist (FRAMEWORK doc §mobile-hotspot, behavioral tier)
HOTSPOT_SSID_PATTERNS = ("AndroidAP", "iPhone", "Mobile Hotspot", "MiFi")
# Filtering actions (.../config/properties/DataFilteringConfigurationProperties.java:74-78)
HOTSPOT_ACTION_FLAG = "FLAG"
HOTSPOT_ACTION_EXCLUDE = "EXCLUDE"
HOTSPOT_ACTION_LOG_ONLY = "LOG_ONLY"

# ---------------------------------------------------------------------------
# Quality weighting / scoring
# (.../service/WifiDataTransformationService.java:653-718; application.yml:134-136)
# ---------------------------------------------------------------------------

QUALITY_WEIGHT_CONNECTED = 2.0           # application.yml:134
QUALITY_WEIGHT_SCAN = 1.0                # application.yml:135
QUALITY_WEIGHT_LOW_LINK_SPEED = 1.5      # application.yml:136 (linkSpeed<50 AND rssi>-70)
LOW_LINK_SPEED_THRESHOLD = 50
LOW_LINK_SPEED_RSSI_GATE = -70

# quality_score = 0.5 + 0.3*max(0,1-accuracy/100) + 0.2*max(0,(rssi+100)/100), cap 1.0
# (WifiDataTransformationService.java:698-718)
QUALITY_SCORE_BASE = 0.5
QUALITY_SCORE_ACCURACY_COEF = 0.3
QUALITY_SCORE_RSSI_COEF = 0.2

# ---------------------------------------------------------------------------
# Deduplication (application.yml:171)
# ---------------------------------------------------------------------------

DEDUP_WINDOW_SECONDS = 5

# ---------------------------------------------------------------------------
# AP dimension / statuses (wifi-positioning-service/.../dto/WifiAccessPoint.java:37-38)
# ---------------------------------------------------------------------------

VALID_AP_STATUSES = ("active", "warning", "verified", "test", "imported")

# ---------------------------------------------------------------------------
# Signal physics validation (wifi-positioning-service/.../service/SignalPhysicsValidator.java:31-45)
# ---------------------------------------------------------------------------

PHYSICS_RSSI_MIN = -100.0
PHYSICS_RSSI_MAX = -30.0
PHYSICS_MAX_SPREAD_DB = 45.0             # same-frequency max-min spread
PHYSICS_STRONG_SIGNAL_GATE = -50.0       # spread check applies when max > -50

# ---------------------------------------------------------------------------
# Positioning algorithms (wifi-positioning-service/.../algorithm/impl/*.java)
# ---------------------------------------------------------------------------

# Proximity (ProximityDetectionAlgorithm.java:52-53,83-130)
PROXIMITY_CONF_MAX = 0.85
PROXIMITY_DEFAULT_ACCURACY_M = 50.0

# Weighted centroid (WeightedCentroidAlgorithm.java:69-113,209-342,452-455)
WCL_CONF_CAP = 0.8
WCL_CONF_COVERAGE_COEF = 0.7
WCL_DEFAULT_AP_ACCURACY_M = 15.0

# RSSI ratio (RSSIRatioAlgorithm.java:37-39,73,97,211)
RSSI_RATIO_EXPONENT_DIVISOR = 20.0

# Log-distance path loss (LogDistancePathLossAlgorithm.java:160-268,836-963)
# per normalized vendor (lower(trim(vendor))); the oracle CASE in
# plans/positioning_companions.py states the same table as SQL text
VENDOR_PATH_LOSS_EXPONENTS = {
    "cisco": 3.0, "aruba": 2.8, "meraki": 3.0, "ubiquiti": 2.7,
    "ruckus": 2.9, "hpe-aruba": 2.8,
}
DEFAULT_PATH_LOSS_EXPONENT = 3.0         # ITU-R default (:181)
PATH_LOSS_EXPONENT_MIN = 2.0             # signal-adjusted clamp (:836-860)
PATH_LOSS_EXPONENT_MAX = 5.0
# Frequency-band reference RSSI at d0=1m (:241-244)
REF_RSSI_2_4GHZ = -40.0
REF_RSSI_5GHZ = -45.0
REF_RSSI_6GHZ = -43.0
# Shadow-fading sigma by environment (:262-265)
SHADOW_SIGMA_LOW = 2.0
SHADOW_SIGMA_MEDIUM = 3.5
SHADOW_SIGMA_HIGH = 5.0

# Trilateration (TrilaterationAlgorithm.java:80-356,1034-1123)
TRILAT_MIN_APS = 3
TRILAT_CONF_SIGNAL_COEF = 0.7
TRILAT_CONF_APCOUNT_COEF = 0.3
TRILAT_CONF_MIN = 0.55
TRILAT_CONF_MAX = 0.85
TRILAT_PATH_LOSS_FREE_SPACE = 2.5        # :120-127
TRILAT_PATH_LOSS_INDOOR = 3.0

# Maximum likelihood (MaximumLikelihoodAlgorithm.java:72-154)
MLE_MAX_ITERATIONS = 100                 # :78
MLE_CONVERGENCE_M = 0.1                  # :96

# GDOP (util/GDOPCalculator.java:38,45,237-281)
GDOP_EXCELLENT = 2.0
GDOP_GOOD = 4.0
GDOP_FAIR = 6.0
GDOP_MAX = 30.0
SINGULARITY = 1e-10                      # near-zero determinant / variance
# collinear iff every AP lies within this many degrees of the best-fit line
COLLINEARITY_MAX_DEVIATION_DEG = 0.0002  # GeometricQualityFactor.java:145

# Selection framework (documents/algorithm-selection-framework.md:13-85; AlgorithmSelector.java)
SELECTION_MIN_WEIGHT = 0.4               # drop algorithms below this weight
SELECTION_TOP_K_STRONG = 2               # keep top-2 if max weight > 0.8
SELECTION_TOP_K_DEFAULT = 3
SELECTION_STRONG_MAX_WEIGHT = 0.8
ALL_WEAK_RSSI_GATE = -95.0               # all signals below → proximity only

# Signal quality classes (factor/SignalQualityFactor.java:60-93)
SIGNAL_STRONG_DBM = -70.0
SIGNAL_MEDIUM_DBM = -85.0
SIGNAL_WEAK_DBM = -95.0
# Signal distribution classes (factor/SignalDistributionFactor.java:26,32,108-131)
DISTRIBUTION_OUTLIER_STDDEV = 10.0
DISTRIBUTION_MIXED_STDDEV = 3.0

# Combiner (WeightedAveragePositionCombiner.java:97,294-461)
COMBINER_COLLINEAR_CONF_CAP = 0.69
COMBINER_TRIM_FRACTION = 0.25            # 25% trimmed mean (:390)
COMBINER_MAD_MULTIPLIER = 2.0            # 2-MAD outlier inflation (:419)

# ---------------------------------------------------------------------------
# Batch localization / outlier jobs (FRAMEWORK doc + wifi_measurement_s3_table_schema.md)
# ---------------------------------------------------------------------------

LOCALIZATION_MIN_MEASUREMENTS = 20       # FRAMEWORK:127; SCHEMA:174 (bootstrap)
LOCALIZATION_TIER_MLE = 50               # FRAMEWORK:161-169 maturity matrix
LOCALIZATION_TIER_BAYESIAN = 100
OUTLIER_MAD_MULTIPLIER = 3.0             # flag dist > 3×MAD (FRAMEWORK:111)
OUTLIER_ALGORITHMS = ("MAD", "IQR", "PERCENTILE")   # SCHEMA:59
POSITIONING_MAX_SCANS_PER_REQUEST = 20   # WifiPositioningRequest.java:12

# Mobile hotspot behavioral detection (FRAMEWORK:55-69)
HOTSPOT_SPATIAL_STDDEV_M = 200.0         # spread beyond which an AP looks mobile


@dataclass(frozen=True)
class EngineConfig:
    """Bundled runtime configuration with reference-faithful defaults."""

    max_location_accuracy_m: float = MAX_LOCATION_ACCURACY_M
    rssi_min: int = RSSI_MIN_DBM
    rssi_max: int = RSSI_MAX_DBM
    max_age_days: int = MAX_MEASUREMENT_AGE_DAYS
    hotspot_action: str = HOTSPOT_ACTION_EXCLUDE
    hotspot_ouis: tuple[str, ...] = HOTSPOT_OUI_BLACKLIST
    dedup_window_seconds: int = DEDUP_WINDOW_SECONDS
    localization_min_measurements: int = LOCALIZATION_MIN_MEASUREMENTS
    outlier_mad_multiplier: float = OUTLIER_MAD_MULTIPLIER
    valid_ap_statuses: tuple[str, ...] = field(default=VALID_AP_STATUSES)


DEFAULT_CONFIG = EngineConfig()
