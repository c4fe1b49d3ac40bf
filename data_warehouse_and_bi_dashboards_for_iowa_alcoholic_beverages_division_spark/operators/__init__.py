from .scd import (  # noqa: F401
    create_scd_from_input,
    merge_scd,
    remove_one_day_changes,
    scd_point_in_time_join,
    scd_update_and_insert,
)
